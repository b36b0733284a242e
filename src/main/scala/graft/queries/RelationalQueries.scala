package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.QueryEngine
import graft.operators.QueryEngine.{AggregateSpec, SimpleQuery}
import graft.functions.TextFunctions._
import Fixtures._

/** The relational core (§2.1–§2.7): scans, the reference's filter grammar,
  * aggregations, sorts and top-k, joins (the 22 TPC-H queries among
  * them), window functions and set operations. */
object RelationalQueries {
  val all: Seq[Q] = Seq(
    // ---- §2.1 scans -----------------------------------------------------
    Q("q_scan", oracleSql =
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
      build = (s, d) =>
      t(s, d, "lineitem").orderBy("l_orderkey", "l_linenumber")),

    // ---- §2.2 filter / projection (reference 3-token grammar) ----------
    Q("q_filter", oracleSql =
      "SELECT * FROM lineitem WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber",
      build = (s, d) =>
      QueryEngine.run(t(s, d, "lineitem"),
          SimpleQuery("lineitem", filter = Some("l_quantity > 45")))
        .orderBy("l_orderkey", "l_linenumber")),
    Q("q_filter_string", oracleSql =
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey",
      build = (s, d) =>
      QueryEngine.run(t(s, d, "orders"),
          SimpleQuery("orders", filter = Some("o_orderstatus = 'F'"),
            projection = Seq("o_orderkey", "o_totalprice")))
        .orderBy("o_orderkey")),
    Q("q_project", oracleSql =
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_linenumber",
      build = (s, d) =>
      QueryEngine.run(t(s, d, "lineitem"),
          SimpleQuery("lineitem",
            projection = Seq("l_orderkey", "l_linenumber", "l_extendedprice")))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- §2.4 aggregations (count/sum/avg/min/max, COUNT(*)) -----------
    Q("q_agg", oracleSql = """
      SELECT l_returnflag, count(*) AS cnt,
             round(sum(l_quantity), 2) AS sum_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(min(l_extendedprice), 2) AS min_price,
             round(max(l_extendedprice), 2) AS max_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(min("l_extendedprice"), 2).as("min_price"),
          round(max("l_extendedprice"), 2).as("max_price"))
        .orderBy("l_returnflag")),
    // The async job lifecycle (submit → poll → fetch result location)
    // exercised inside the correctness gate: the SAME aggregate as q_agg,
    // but executed through Jobs.JobManager — written to the job's result
    // path on a worker thread, polled to COMPLETED, read back from the
    // result location. The oracle hash thus covers the whole round-trip.
    Q("q_job_lifecycle", oracleSql = """
      SELECT l_returnflag, count(*) AS cnt,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      val jm = new graft.api.Jobs.JobManager(s,
        java.nio.file.Files.createTempDirectory("graftjobs").toString)
      val id = jm.submit(
        t(s, d, "lineitem").groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"),
            round(sum("l_quantity"), 2).as("sum_qty")))
      val status = jm.await(id)
      assert(status.status == graft.api.Jobs.Completed, status.toString)
      jm.result(id).orderBy("l_returnflag")
    }),

    Q("q_agg_nogroup", oracleSql = """
      SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price,
             round(avg(l_quantity), 6) AS avg_qty,
             round(min(l_discount), 2) AS min_disc,
             round(max(l_tax), 2) AS max_tax
      FROM lineitem""",
      build = (s, d) =>
      t(s, d, "lineitem")
        .agg(count(lit(1)).as("cnt"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(min("l_discount"), 2).as("min_disc"),
          round(max("l_tax"), 2).as("max_tax"))),
    Q("q_agg_golden", oracleSql = """
      SELECT l_returnflag AS category, count(*) AS total_orders,
             round(sum(l_extendedprice * l_quantity), 2) AS total_revenue,
             round(avg(l_extendedprice), 4) AS avg_price
      FROM lineitem GROUP BY 1 ORDER BY 1""",
      build = (s, d) =>
      // golden_query_test.go:127: SELECT category, COUNT(*), SUM(price*qty),
      // AVG(price) GROUP BY category ORDER BY category — on lineitem.
      t(s, d, "lineitem").groupBy(col("l_returnflag").as("category"))
        .agg(count(lit(1)).as("total_orders"),
          round(sum(col("l_extendedprice") * col("l_quantity")), 2)
            .as("total_revenue"),
          round(avg("l_extendedprice"), 4).as("avg_price"))
        .orderBy("category")),
    Q("q_agg_having", oracleSql = """
      SELECT l_suppkey, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
      FROM lineitem GROUP BY l_suppkey HAVING count(*) > 100 ORDER BY l_suppkey""",
      build = (s, d) =>
      t(s, d, "lineitem").groupBy("l_suppkey")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .filter(col("cnt") > 100)
        .orderBy("l_suppkey")),
    Q("q_simple_api", oracleSql = """
      SELECT l_returnflag, count(*) AS "count_*",
             sum(l_quantity) AS sum_l_quantity,
             min(l_extendedprice) AS min_l_extendedprice,
             max(l_extendedprice) AS max_l_extendedprice
      FROM lineitem WHERE l_quantity >= 30
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) =>
      // Full reference structured-query path: filter grammar + agg specs +
      // default `{fn}_{col}` output naming (task_executor.rs:650-653).
      QueryEngine.run(t(s, d, "lineitem"),
        SimpleQuery("lineitem",
          filter = Some("l_quantity >= 30"),
          groupBy = Seq("l_returnflag"),
          aggregates = Seq(
            AggregateSpec("count", "*"),
            AggregateSpec("sum", "l_quantity"),
            AggregateSpec("min", "l_extendedprice"),
            AggregateSpec("max", "l_extendedprice"))))),

    // ---- §2.6 sorts / limits / top-k ------------------------------------
    Q("q_sort_limit", oracleSql =
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
      build = (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),
    Q("q_distinct", oracleSql =
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2",
      build = (s, d) =>
      t(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- §2.3 joins (extension beyond reference — it has none) ---------
    Q("q_join_broadcast", oracleSql = """
      SELECT c_mktsegment, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      build = (s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")),
    Q("q_join_multi", oracleSql = """
      SELECT r_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name""",
      build = (s, d) => {
      // TPC-H Q5 shape: 5-way join, small dims broadcast by AQE/stats.
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("r_name", "n_name")
    }),
    Q("q_join_full", oracleSql = """
      WITH f AS (
        SELECT o_custkey AS ck, count(*) AS n_f,
               round(sum(o_totalprice), 2) AS rev_f
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
      o AS (
        SELECT o_custkey AS ck, count(*) AS n_o,
               round(sum(o_totalprice), 2) AS rev_o
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
      SELECT coalesce(f.ck, o.ck) AS custkey,
             coalesce(n_f, 0) AS n_f, coalesce(rev_f, 0.0) AS rev_f,
             coalesce(n_o, 0) AS n_o, coalesce(rev_o, 0.0) AS rev_o
      FROM f FULL OUTER JOIN o ON f.ck = o.ck
      ORDER BY custkey""",
      build = (s, d) => {
      // FULL OUTER join with BOTH sides genuinely unmatched: customers
      // holding only finished ('F') orders vs only open ('O') orders.
      // Both inputs aggregate on o_custkey first, so the full-outer
      // SortMergeJoin reuses the aggregates' hash partitioning — one
      // shuffle per side, none for the join itself, and the join carries
      // one row per customer, not per order. (A full outer can never
      // broadcast — both sides must see all unmatched keys — so shrinking
      // the sides BEFORE the join is the 100 TB lever.)
      val o = t(s, d, "orders")
      val fin = o.filter(col("o_orderstatus") === "F").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_f"), round(sum("o_totalprice"), 2).as("rev_f"))
        .withColumnRenamed("o_custkey", "ck_f")
      val open = o.filter(col("o_orderstatus") === "O").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_o"), round(sum("o_totalprice"), 2).as("rev_o"))
        .withColumnRenamed("o_custkey", "ck_o")
      fin.join(open, col("ck_f") === col("ck_o"), "full_outer")
        .select(coalesce(col("ck_f"), col("ck_o")).as("custkey"),
          coalesce(col("n_f"), lit(0L)).as("n_f"),
          coalesce(col("rev_f"), lit(0.0)).as("rev_f"),
          coalesce(col("n_o"), lit(0L)).as("n_o"),
          coalesce(col("rev_o"), lit(0.0)).as("rev_o"))
        .orderBy("custkey")
    }),
    Q("q_udaf_weighted", oracleSql = """
      SELECT l_returnflag,
             round(sum((l_extendedprice / l_quantity) * l_quantity)
                   / sum(l_quantity), 4) AS w_mean_unit_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      // typed Aggregator UDAF (partial-merge like any built-in): per
      // return flag, the quantity-weighted mean unit price — checked
      // against the closed-form sum(p*q)/sum(q)
      graft.functions.Aggregators.register(s)
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(call_function("graft_weighted_mean",
          col("l_extendedprice") / col("l_quantity"), col("l_quantity")), 4)
          .as("w_mean_unit_price"))
        .orderBy("l_returnflag")
    }),

    Q("q_join_skew_salted", oracleSql = """
      SELECT c_mktsegment, count(*) AS n_events,
             round(sum(value), 2) AS total_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      build = (s, d) => {
      // salted skew join hash-checked against the plain join: salting is a
      // partitioning change only — the result set must be identical
      val ev = t(s, d, "events").select("user_id", "value")
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.operators.SkewJoin.saltedJoin(ev, cust, Seq("user_id"),
          saltFactor = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"))
        .orderBy("c_mktsegment")
    }),

    Q("q_join_skew_adaptive", oracleSql = """
      SELECT c_mktsegment, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             round(sum(value), 2) AS total_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      build = (s, d) => {
      // adaptive salting: a counting pass detects hot keys, only those are
      // salted/replicated — cold keys take the plain one-shuffle join path.
      // Same oracle shape as the blanket-salted query: salting is a
      // partitioning change only, the result set must equal the plain join.
      // hotThreshold=50 so the events table's heavier users actually trip
      // the hot path at bench scale (auto-derivation needs more rows/key).
      val ev = t(s, d, "events").select("user_id", "value")
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.operators.SkewJoin.adaptiveSaltedJoin(ev, cust, Seq("user_id"),
          saltFactor = 8, hotThreshold = 50)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum("value"), 2).as("total_value"))
        .orderBy("c_mktsegment")
    }),

    Q("q_join_range", oracleSql = """
      SELECT c_custkey, count(*) AS n_events,
             round(sum(value), 2) AS total_value
      FROM events JOIN customer
        ON value >= (c_custkey % 30) * 10.0
       AND value <= (c_custkey % 30) * 10.0 + 2.0
      GROUP BY c_custkey ORDER BY c_custkey""",
      build = (s, d) => {
      // pure inequality join (no equi key): events whose value falls in a
      // per-customer band. Naive Spark = BroadcastNestedLoopJoin; the
      // bucketed rewrite shuffles an equi-join key instead
      // (RangeJoinSpec pins both the plan and naive-equivalence). Bands
      // derive from c_custkey with exact double arithmetic so the DuckDB
      // oracle reproduces boundaries bit-for-bit.
      val ev = t(s, d, "events").select("event_id", "value")
      val bands = t(s, d, "customer").select(col("c_custkey"),
        (pmod(col("c_custkey"), lit(30)) * 10.0).as("band_lo"),
        (pmod(col("c_custkey"), lit(30)) * 10.0 + 2.0).as("band_hi"))
      graft.operators.RangeJoin.pointInInterval(ev, bands, "value",
          "band_lo", "band_hi", bucketWidth = 10.0)
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"))
        .orderBy("c_custkey")
    }),

    Q("q_tpch_q3", oracleSql = """
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate  > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",
      build = (s, d) => {
      // TPC-H Q3 shape (shipping-priority): selective filters pushed into
      // all three scans, broadcast customer dim, grouped revenue top-N.
      // o_shippriority doesn't exist in this testdata — o_orderpriority
      // stands in. Ordering uses the ROUNDED revenue so the top-10 set is
      // engine-independent (ties broken by the unique group key).
      val cut = lit("1998-01-01").cast("timestamp")
      val cust = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, d, "orders").filter(col("o_orderdate") < cut)
      val li = t(s, d, "lineitem").filter(col("l_shipdate") > cut)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    Q("q_tpch_q5", oracleSql = """
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""",
      build = (s, d) => {
      // TPC-H Q5 shape (local-supplier revenue): the canonical 6-table
      // join-reorder test. Scale shape: region→nation→supplier collapse
      // into ONE broadcast dim (region and nation are tiny, supplier is
      // the smallest big table — at 100 TB it's ~1/10000 of lineitem, well
      // under a broadcast threshold after the nation semi-filter);
      // lineitem⋈orders and ⋈customer are the real shuffles, keyed on
      // orderkey/custkey. The c_nationkey = s_nationkey constraint rides
      // the supplier broadcast, so it costs no extra exchange.
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val supNation = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      t(s, d, "lineitem")
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supNation),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    Q("q_tpch_q17", oracleSql = """
      SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#23'
        AND l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""",
      build = (s, d) => {
      // TPC-H Q17 shape (small-quantity-order revenue): the canonical
      // correlated scalar subquery — decorrelated by hand into the plan
      // Catalyst would derive: ONE per-partkey average over lineitem
      // (shuffle keyed on partkey, partial agg map-side), semi-filtered to
      // the brand's parts FIRST via the broadcast part dim so the avg
      // never aggregates partkeys the outer query discards. l_quantity is
      // integral, so the per-key mean is exact FP and the `<` threshold
      // is engine-deterministic (a float avg of non-integral values would
      // make the comparison order-dependent near ties).
      val pt = t(s, d, "part").filter(col("p_brand") === "Brand#23")
        .select("p_partkey")
      val branded = t(s, d, "lineitem")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      val avgQ = branded.groupBy("l_partkey")
        .agg(avg("l_quantity").as("__avg_qty"))
      branded.join(avgQ, "l_partkey")
        .filter(col("l_quantity") < lit(0.2) * col("__avg_qty"))
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"))
    }),
    Q("q_tpch_q18", oracleSql = """
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             round(sum(l_quantity), 2) AS total_qty
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
      build = (s, d) => {
      // TPC-H Q18 shape (large-volume customers): the HAVING-subquery
      // semi-join. The heavy-hitter key set is one aggregate over lineitem
      // (map-side partials; the > threshold keeps a tiny fraction), then a
      // LEFT SEMI join gates lineitem before the orders/customer joins —
      // at 100 TB the semi-join output is the only lineitem data that ever
      // reaches a wide join, and AQE broadcasts the key set. l_quantity is
      // integral, so the HAVING threshold and the final sums are exact FP.
      val li = t(s, d, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("__q")).filter(col("__q") > 150)
        .select("l_orderkey")
      li.join(big, Seq("l_orderkey"), "left_semi")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
          "o_totalprice")
        .agg(round(sum("l_quantity"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),
    Q("q_tpch_q1", oracleSql = """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
      build = (s, d) =>
      // TPC-H Q1 (pricing summary report): the canonical wide-aggregate
      // scan. Scale shape: ONE pass over lineitem — the shipdate filter
      // and all 8 aggregates ride a single partial/final HashAggregate
      // pair over a 2-value group key (map-side partials collapse ~all
      // rows before the exchange, so the shuffle moves 6 rows per
      // partition regardless of SF). l_quantity is integral so sum_qty /
      // avg_qty are exact FP; price sums follow the round(,2) contract
      // the golden queries established.
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    Q("q_tpch_q21", oracleSql = """
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""",
      build = (s, d) => {
      // TPC-H Q21 shape (suppliers who kept waiting): the canonical
      // EXISTS + NOT-EXISTS double self-join, decorrelated by hand into
      // the plan Catalyst derives for it: ONE per-order supplier profile
      // (countDistinct suppliers / late suppliers — partial aggregates
      // map-side, shuffle keyed on l_orderkey) replaces BOTH correlated
      // subqueries, then joins back to the late rows on the SAME key, so
      // AQE co-partitions the probe with the profile and lineitem text
      // never moves twice. Supplier is a broadcast dim. The testdata has
      // no l_commitdate/l_receiptdate, so "late" is adapted to
      // l_shipdate > o_orderdate + 60 days — same plan, same semantics
      // class (a row predicate over the lineitem⋈orders join).
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val ord = t(s, d, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val flagged = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("__late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      val perOrder = flagged.groupBy("l_orderkey")
        .agg(countDistinct("l_suppkey").as("__nsupp"),
          countDistinct(when(col("__late"), col("l_suppkey"))).as("__nlate"))
      flagged.filter(col("__late"))
        .join(perOrder, "l_orderkey")
        .filter(col("__nsupp") >= 2 && col("__nlate") === 1)
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    }),
    Q("q_tpch_q4", oracleSql = """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        AND o_orderdate <  TIMESTAMP '1996-10-01'
        AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      build = (s, d) => {
      // TPC-H Q4 shape (order priority checking): EXISTS over a child
      // table where the correlated predicate spans BOTH tables
      // (l_shipdate > o_orderdate + 30 days). Expressed directly as a
      // LEFT SEMI join carrying the inequality as an extra join
      // condition — Spark keys the shuffle on the equi part (orderkey)
      // and evaluates the date predicate inside the join, so lineitem is
      // touched once and never duplicated by multi-match orders. The
      // date window prunes orders BEFORE the join (the testdata has no
      // l_commitdate/l_receiptdate; "late" = shipped >30 days after the
      // order date — same plan class as the reference predicate).
      val lo = lit("1996-07-01").cast("timestamp")
      val hi = lit("1996-10-01").cast("timestamp")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = t(s, d, "lineitem").select("l_orderkey", "l_shipdate")
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    Q("q_tpch_q12", oracleSql = """
      SELECT l_returnflag,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      // TPC-H Q12 shape (shipping-mode priority audit): the canonical
      // conditional-aggregation join — sum(CASE WHEN ...) pivots the
      // order-priority split into two counters per group in the SAME
      // partial/final aggregate pair, so the plan is one shuffle keyed
      // on the join key plus one keyed on the group key, no matter how
      // many CASE arms ride along. l_returnflag stands in for the
      // missing l_shipmode; the date window prunes lineitem at the scan.
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select("l_orderkey", "l_returnflag")
      val urgent = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      li.join(t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!urgent, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),
    Q("q_tpch_q14", oracleSql = """
      SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4)
               AS promo_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-06-01'
        AND l_shipdate <  TIMESTAMP '1997-07-01'""",
      build = (s, d) => {
      // TPC-H Q14 shape (promotion effect): a ratio of two conditional
      // sums over the same join — both numerator and denominator ride
      // ONE aggregate over ONE broadcast join (part is the dim side), so
      // the lineitem pass is single. The month window prunes the scan.
      // Ratio rounded to 4dp; the sums are the round(,2)-class price
      // expressions whose cross-engine stability the golden queries pin.
      val lo = lit("1997-06-01").cast("timestamp")
      val hi = lit("1997-07-01").cast("timestamp")
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select("l_partkey", "l_extendedprice", "l_discount")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      li.join(broadcast(t(s, d, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(0.0))
            / sum(rev), 4).as("promo_revenue"))
    }),
    Q("q_tpch_q19", oracleSql = """
      SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 20 AND 30)""",
      build = (s, d) => {
      // TPC-H Q19 shape (discounted revenue): the canonical DISJUNCTIVE
      // join predicate — three (brand, size, quantity) clause triples
      // OR'd together across the part⋈lineitem equi key. Catalyst
      // factors the disjunction: the common l_partkey = p_partkey key
      // plans a broadcast hash join, per-side implied filters
      // (p_brand IN (...), l_quantity <= 30) push into BOTH scans, and
      // the residual OR evaluates post-join — the shape that keeps a
      // 100 TB lineitem scan pruned even though no single clause is a
      // conjunction. Predicate values adapted to this testdata's
      // brand/size/quantity domains.
      val li = t(s, d, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val pt = t(s, d, "part").select("p_partkey", "p_brand", "p_size")
      val clause =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey") && clause)
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"))
    }),
    Q("q_tpch_q6", oracleSql = """
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24""",
      build = (s, d) =>
      // TPC-H Q6 (forecasting revenue change): the pure-scan aggregate.
      // All three predicates push into the parquet scan (PushedFilters
      // carries shipdate+quantity; the discount band evaluates in the
      // scan's filter node) and the single global sum collapses map-side
      // — at 100 TB this reads only the shipdate-pruned row groups and
      // shuffles one partial row per partition.
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"))),
    Q("q_tpch_q7", oracleSql = """
      SELECT supp_nation, cust_nation, l_year,
             round(sum(volume), 2) AS revenue
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""",
      build = (s, d) => {
      // TPC-H Q7 shape (volume shipping between two nations): lineitem
      // joins orders (shuffle on orderkey), customer (shuffle on custkey),
      // and BOTH nation lookups ride broadcasts (supplier⋈nation and the
      // customer-side nation dim are tiny). The nation-pair disjunction
      // filters after the broadcasts, so the big shuffles never carry
      // rows outside the shipdate window. l_year from l_shipdate.
      val supN = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(custN, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),
    Q("q_tpch_q8", oracleSql = """
      SELECT o_year,
             round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                            ELSE 0.0 END) / sum(volume), 4) AS mkt_share
      FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n1.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        WHERE p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
          AND o_custkey IN (
            SELECT c_custkey FROM customer
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON n2.n_regionkey = r_regionkey
            WHERE r_name = 'AMERICA'))
      GROUP BY o_year ORDER BY o_year""",
      build = (s, d) => {
      // TPC-H Q8 shape (national market share): conditional share —
      // sum(CASE nation)/sum(all) per order-year over a 5-way join.
      // part (type filter, broadcast) gates lineitem FIRST so the
      // orders/customer shuffles only carry the ~1/6 of rows that
      // survive; region prunes the customer side via a broadcast
      // nation⋈region dim. Share rounded to 4dp.
      val pt = t(s, d, "part").filter(col("p_type") === "ECONOMY")
        .select("p_partkey")
      val custAmerica = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")
            .join(broadcast(t(s, d, "region")
              .filter(col("r_name") === "AMERICA")),
              col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val supN = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, d, "lineitem")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custAmerica, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(0.0))
            / sum(vol), 4).as("mkt_share"))
        .orderBy("o_year")
    }),
    Q("q_tpch_q9", oracleSql = """
      SELECT nation, o_year,
             sum(CAST(round(profit * 100) AS BIGINT)) / 100.0 AS sum_profit
      FROM (
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               (l_extendedprice * (1 - l_discount))
                 - (p_retailprice * 0.1 * l_quantity) AS profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%')
      GROUP BY nation, o_year ORDER BY nation, o_year DESC""",
      build = (s, d) => {
      // TPC-H Q9 shape (product-type profit): the 6-table profit rollup.
      // part (name filter, broadcast) gates lineitem before the orders
      // shuffle; supplier⋈nation is the other broadcast. The testdata has
      // no partsupp.ps_supplycost — a deterministic retail-margin proxy
      // (p_retailprice * 0.1 per unit) stands in, preserving the
      // expression shape (revenue minus per-unit cost times quantity).
      val pt = t(s, d, "part")
        .filter(col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
      val supN = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      // profit is summed as exact integer cents (per-row round, then a
      // long sum): double summation is order-dependent across engines and
      // this query's sums land on .005 boundaries at sf0.01 — the same
      // integer-scaling trick LangModel uses for cross-engine log-prob sums
      val profit = (col("l_extendedprice") * (lit(1) - col("l_discount"))) -
        (col("p_retailprice") * lit(0.1) * col("l_quantity"))
      t(s, d, "lineitem")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(round(profit * 100).cast("long")) / 100.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),
    Q("q_tpch_q10", oracleSql = """
      SELECT c_custkey, c_name, c_acctbal, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-04-01'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""",
      build = (s, d) => {
      // TPC-H Q10 shape (returned-item reporting): revenue lost to
      // returns per customer. The returnflag filter prunes lineitem at
      // the scan, the orderdate quarter prunes orders; customer and the
      // nation dim broadcast. Ordering uses the ROUNDED revenue (ties
      // broken by the unique custkey) so the top-20 set is
      // engine-independent — same contract as Q3.
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    Q("q_tpch_q11", oracleSql = """
      WITH ps AS (
        SELECT l_partkey,
               sum(l_extendedprice * (1 - l_discount)) AS value
        FROM lineitem
        WHERE l_suppkey IN (
          SELECT s_suppkey FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_7')
        GROUP BY l_partkey)
      SELECT l_partkey, round(value, 2) AS part_value
      FROM ps
      WHERE value > (SELECT sum(value) FROM ps) * 0.001
      ORDER BY part_value DESC, l_partkey""",
      build = (s, d) => {
      // TPC-H Q11 shape (important stock): per-part value with a
      // GLOBAL-total scalar threshold in HAVING. partsupp is derived
      // from lineitem's (partkey, suppkey) pairs (no partsupp table in
      // this testdata); value = discounted spend through the nation's
      // suppliers. The global total is the SAME aggregate re-used as a
      // one-row broadcast (crossJoin), so lineitem is read once per
      // branch and nothing re-shuffles for the threshold.
      val supN = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      // persisted: the global-total branch would otherwise re-run the
      // whole lineitem aggregate a second time (same subtree, two
      // consumers); the cache is one row per part
      val ps = t(s, d, "lineitem")
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"),
          "left_semi")
        .groupBy("l_partkey")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("__value"))
        .persist()
      val total = ps.agg(sum("__value").as("__total"))
      ps.crossJoin(broadcast(total))
        .filter(col("__value") > col("__total") * lit(0.001))
        .select(col("l_partkey"), round(col("__value"), 2).as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    }),
    Q("q_tpch_q13", oracleSql = """
      SELECT c_count, count(*) AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",
      build = (s, d) => {
      // TPC-H Q13 shape (customer order-count distribution): the
      // canonical LEFT OUTER join with a predicate on the RIGHT side
      // (kept in the join condition, NOT a WHERE — a WHERE would turn
      // the outer join inner and drop zero-order customers). Two
      // aggregates: per-customer count (shuffle on custkey), then the
      // tiny distribution rollup. o_orderpriority <> '1-URGENT' stands
      // in for the missing o_comment NOT LIKE filter — same plan class.
      val ord = t(s, d, "orders").select("o_custkey", "o_orderkey",
        "o_orderpriority")
      t(s, d, "customer").select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT", "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    Q("q_tpch_q15", oracleSql = """
      WITH rev AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      ORDER BY s_suppkey""",
      build = (s, d) => {
      // TPC-H Q15 shape (top supplier): the revenue "view" computed once
      // (one shuffle keyed on suppkey), its max taken as a one-row
      // broadcast, and the equality re-join — revenue is ROUNDED before
      // the max so the equality compares identical 2dp values in both
      // engines. Supplier is a broadcast dim.
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      // persisted: the max branch would otherwise re-run the lineitem
      // aggregate (one cached row per supplier)
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy("l_suppkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("total_revenue"))
        .persist()
      val mx = rev.agg(max("total_revenue").as("__mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("__mx"))
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),
    Q("q_tpch_q16", oracleSql = """
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
        AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
      build = (s, d) => {
      // TPC-H Q16 shape (parts/supplier relationship): distinct-pair
      // partsupp derived from lineitem, an ANTI join excluding flagged
      // suppliers (negative balance stands in for the missing
      // s_comment complaints filter), then countDistinct per part
      // attribute triple. The anti side is 100 rows — broadcast; the
      // distinct-pair aggregate is the only big shuffle.
      val ps = t(s, d, "lineitem").select("l_partkey", "l_suppkey").distinct()
      val flagged = t(s, d, "supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      val pt = t(s, d, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      ps.join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),
    Q("q_tpch_q20", oracleSql = """
      SELECT s_name, s_acctbal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_4' AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1998-01-01'
          AND l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        GROUP BY l_partkey, l_suppkey
        HAVING sum(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'
                        THEN l_quantity ELSE 0.0 END)
             > sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                        THEN l_quantity ELSE 0.0 END) * 0.5)
      ORDER BY s_name""",
      build = (s, d) => {
      // TPC-H Q20 shape (potential part promotion): nested IN subqueries
      // — suppliers holding more pre-1997 stock of the named parts than
      // half of what shipped in 1997. Both per-pair aggregates
      // (availqty proxy = pre-window quantity; the in-window shipped
      // sum) ride ONE groupBy over lineitem via conditional sums —
      // a single shuffle keyed on (partkey, suppkey) replaces the
      // correlated subquery. Parts filter broadcasts; the supplier
      // probe is a semi-join against a 100-row dim.
      val cut = lit("1997-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val named = t(s, d, "part").filter(col("p_name").like("small%"))
        .select("p_partkey")
      val pairs = t(s, d, "lineitem")
        .filter(col("l_shipdate") < hi)
        .join(broadcast(named), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(when(col("l_shipdate") < cut, col("l_quantity"))
            .otherwise(0.0)).as("__avail"),
          sum(when(col("l_shipdate") >= cut, col("l_quantity"))
            .otherwise(0.0)).as("__shipped"))
        .filter(col("__avail") > col("__shipped") * 0.5)
        .select("l_suppkey").distinct()
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_4")),
          col("s_nationkey") === col("n_nationkey"))
        .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    }),
    Q("q_tpch_q22", oracleSql = """
      WITH cust AS (
        SELECT c_custkey, c_acctbal,
               CAST(c_nationkey % 10 AS BIGINT) AS cntrycode
        FROM customer
        WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5))
      SELECT cntrycode, count(*) AS numcust,
             round(sum(c_acctbal), 2) AS totacctbal
      FROM cust
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM cust
                         WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY cntrycode ORDER BY cntrycode""",
      build = (s, d) => {
      // TPC-H Q22 shape (global sales opportunity): scalar-subquery
      // threshold + NOT EXISTS. The country code is derived from
      // c_nationkey (no c_phone column) — pmod keeps it non-negative in
      // both engines. The positive-balance average is a one-row
      // broadcast; customers with no orders are a LEFT ANTI join keyed
      // on custkey (at 100 TB the anti join shuffles only the two key
      // columns).
      val cust = t(s, d, "customer")
        .withColumn("cntrycode", pmod(col("c_nationkey"), lit(10))
          .cast("long"))
        .filter(col("cntrycode").isin(1, 2, 3, 4, 5))
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(avg("c_acctbal").as("__avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg_bal"))
        .join(t(s, d, "orders").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"),
          round(sum("c_acctbal"), 2).as("totacctbal"))
        .orderBy("cntrycode")
    }),
    Q("q_tpch_q2", oracleSql = """
      WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS cost
        FROM lineitem
        WHERE l_partkey IN (
          SELECT p_partkey FROM part
          WHERE p_size = 15 AND p_type = 'LARGE')
        GROUP BY l_partkey, l_suppkey),
      pse AS (
        SELECT l_partkey, cost, s_name, s_acctbal, n_name
        FROM ps
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE')
      SELECT s_acctbal, s_name, n_name, l_partkey,
             round(cost, 2) AS supply_cost
      FROM pse
      WHERE cost = (SELECT min(cost) FROM pse p2
                    WHERE p2.l_partkey = pse.l_partkey)
      ORDER BY s_acctbal DESC, n_name, s_name, l_partkey LIMIT 10""",
      build = (s, d) => {
      // TPC-H Q2 shape (minimum-cost supplier): the correlated-MIN
      // subquery, decorrelated into a per-part min over the derived
      // partsupp (unit cost = min extendedprice/quantity per pair — the
      // testdata has no ps_supplycost) joined back on (partkey, cost)
      // equality. Both sides of that join descend from the SAME
      // aggregate output, so the doubles compare bit-identically in
      // Spark and DuckDB. Part filter and the supplier⋈nation⋈region
      // dim broadcast; the pair aggregate is the only lineitem shuffle.
      val pt = t(s, d, "part")
        .filter(col("p_size") === 15 && col("p_type") === "LARGE")
        .select("p_partkey")
      val supEurope = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
            .join(broadcast(t(s, d, "region")
              .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      // per-part min via a WINDOW, not a groupBy+self-join: the join form
      // plans the whole pair-aggregate subtree TWICE (once per branch); the
      // window is one extra exchange on l_partkey over rows already reduced
      // to one per (part, supplier) — and a part's supplier group is tiny,
      // so the window frame can never skew a task
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      t(s, d, "lineitem")
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("__cost"))
        .join(broadcast(supEurope), col("l_suppkey") === col("s_suppkey"))
        .withColumn("__min_cost", min("__cost").over(w))
        .filter(col("__cost") === col("__min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey"), round(col("__cost"), 2).as("supply_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("l_partkey"))
        .limit(10)
    }),
    Q("q_grouping_sets", oracleSql = """
      SELECT o_orderstatus, o_orderpriority,
             CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderpriority), ())
      ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
      build = (s, d) =>
      // Explicit GROUPING SETS — neither a rollup nor a cube (the
      // (priority)-only set skips status), plus grouping_id() so callers
      // can tell a real NULL group key from a rolled-up one. Spark plans
      // one Expand (3 replicas) + one hash aggregate — same single
      // shuffle as a plain groupBy, just 3× the map-side rows.
      t(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("cnt"),
          round(sum("o_totalprice"), 2).as("rev"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),
    Q("q_percentile", oracleSql = """
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS qty_p50,
             round(quantile_cont(l_quantity, 0.9), 4) AS qty_p90,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) =>
      // EXACT percentiles (sort-based `percentile`, not the approx
      // sketch): per-group sorted-merge aggregate — the right tool when
      // the group's value set fits an executor (quantity/price columns
      // do); q_profile's histogram+cumulative-window path is the
      // 100 TB-per-group alternative. Oracle-exact because integral
      // quantities interpolate to halves and 2-decimal prices to
      // quarter-cents — both exact in binary FP at round(,4).
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(round(percentile(col("l_quantity"), lit(0.5)), 4).as("qty_p50"),
          round(percentile(col("l_quantity"), lit(0.9)), 4).as("qty_p90"),
          round(percentile(col("l_extendedprice"), lit(0.5)), 4)
            .as("price_p50"))
        .orderBy("l_returnflag")),
    Q("q_join_semi", oracleSql = """
      SELECT c_custkey FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
      build = (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
          "left_semi")
        .select("c_custkey").orderBy("c_custkey")),
    Q("q_join_anti", oracleSql = """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
      build = (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    // ---- §2.5 window functions (extension) ------------------------------
    Q("q_window_rank", oracleSql = """
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",
      build = (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),
    Q("q_window_running", oracleSql = """
      SELECT user_id, event_id,
             round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS running_value
      FROM events ORDER BY user_id, event_id""",
      build = (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("running_value", round(sum("value").over(w), 4))
        .select("user_id", "event_id", "running_value")
        .orderBy("user_id", "event_id")
    }),

    Q("q_window_range", oracleSql = """
      SELECT user_id, event_id,
             count(*) OVER (PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour,
             round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg_3
      FROM events ORDER BY user_id, event_id""",
      build = (s, d) => {
      // value-RANGE frame (trailing 1h of event time — frame bound by the
      // ORDER value, not row count) + sliding 3-row average
      import org.apache.spark.sql.expressions.Window
      val secs = col("ts").cast("long")
      val wRange = Window.partitionBy("user_id").orderBy(secs)
        .rangeBetween(-3600, Window.currentRow)
      val wRows = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-2, Window.currentRow)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(wRange).as("n_last_hour"),
          round(avg("value").over(wRows), 4).as("avg_3"))
        .orderBy("user_id", "event_id")
    }),

    Q("q_window_analytics", oracleSql = """
      SELECT user_id, event_id,
             round(lag(value, 1) OVER w, 4) AS prev_value,
             round(lead(value, 1) OVER w, 4) AS next_value,
             round(first_value(value) OVER (PARTITION BY user_id
               ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW), 4) AS first_value,
             ntile(4) OVER w AS quartile,
             rank() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id) AS value_rank
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      ORDER BY user_id, event_id""",
      build = (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          round(lag("value", 1).over(w), 4).as("prev_value"),
          round(lead("value", 1).over(w), 4).as("next_value"),
          round(first("value").over(w.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)), 4).as("first_value"),
          ntile(4).over(w).as("quartile"),
          rank().over(Window.partitionBy("user_id")
            .orderBy(col("value").desc, col("event_id"))).as("value_rank"))
        .orderBy("user_id", "event_id")
    }),

    // ---- §2.7 set operations (extension) --------------------------------
    Q("q_union", oracleSql = """
      SELECT r_name AS name FROM region
      UNION ALL SELECT n_name FROM nation ORDER BY name""",
      build = (s, d) =>
      t(s, d, "region").select(col("r_name").as("name"))
        .unionAll(t(s, d, "nation").select(col("n_name").as("name")))
        .orderBy("name")),
    Q("q_intersect", oracleSql = """
      SELECT c_nationkey AS nk FROM customer
      INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk""",
      build = (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),
    Q("q_except", oracleSql = """
      SELECT c_nationkey AS nk FROM customer
      EXCEPT SELECT s_nationkey FROM supplier ORDER BY nk""",
      build = (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .except(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),
  )
}
