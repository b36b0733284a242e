package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFunctions._
import Fixtures._

/** §2.12 lake: ACID commits, time travel, compaction, change feeds, WAP,
  * materialized views and their rewrites, clustered layouts, and the
  * search indexes stored as lake tables. */
object LakeQueries {
  val all: Seq[Q] = Seq(

    // ---- §2.12 lake: ACID commits, time travel, compaction ---------------
    // End-to-end through the LakeLog: three OCC-committed inserts (disjoint
    // lineitem slices), then REAL compaction. The oracle recomputes each
    // version's visible rows from the same slices — this hash-checks
    // log-controlled visibility (Property 4), time travel, and result
    // preservation across compaction (Property 30) against DuckDB.
    Q("q_lake_timetravel", oracleSql = """
      SELECT 1 AS version, count(*) AS n_rows,
             round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem WHERE l_orderkey % 3 <= 0
      UNION ALL SELECT 2, count(*), round(sum(l_extendedprice), 2)
        FROM lineitem WHERE l_orderkey % 3 <= 1
      UNION ALL SELECT 3, count(*), round(sum(l_extendedprice), 2)
        FROM lineitem
      UNION ALL SELECT 4, count(*), round(sum(l_extendedprice), 2)
        FROM lineitem
      ORDER BY version""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftlake"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insertAll(s, log, "li", (0 to 2).map(m =>
        (li.filter(col("l_orderkey") % 3 === m), s"slice-$m")))
      LakeTable.compact(s, log, "li", force = true)
      val perVersion = (1 to 4).map { v =>
        LakeTable.read(s, log, "li", v).agg(
          lit(v).as("version"),
          count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
      }
      perVersion.reduce(_ unionAll _).orderBy("version")
    }),

    // Schema evolution end-to-end under the oracle: create with narrow
    // types (int32 / float32), insert, WIDEN to int64/float64 + add a
    // nullable column (the log's latest-schema-wins replay hook —
    // transaction_log.go:191-194 — which the reference declares but never
    // exercises), insert again under the new schema, and read EVERY
    // version: v1/v2 through the original narrow schema, v3/v4 through the
    // widened one (old INT32/FLOAT pages upcast losslessly by the reader;
    // the added column nulls for pre-evolution rows). The float sums are
    // integer-scaled (cents) so cross-engine summation is exact; DuckDB
    // replays the same batches with explicit narrow-then-widen casts.
    Q("q_lake_evolution", oracleSql = """
      WITH b0 AS (
        SELECT c_custkey AS id, CAST(c_nationkey AS INTEGER) AS nk,
               CAST(c_acctbal AS REAL) AS bal, NULL AS seg
        FROM customer WHERE c_custkey % 2 = 0),
      b1 AS (
        SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS nk,
               CAST(c_acctbal AS DOUBLE) AS bal, c_mktsegment AS seg
        FROM customer WHERE c_custkey % 2 = 1),
      v3 AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1)
      SELECT 1 AS version, count(*) AS n_rows,
             CAST(sum(nk) AS BIGINT) AS sum_nk,
             sum(CAST(round(CAST(bal AS DOUBLE) * 100) AS BIGINT)) / 100.0
               AS sum_bal,
             CAST(0 AS BIGINT) AS n_seg
        FROM b0
      UNION ALL SELECT 2, count(*), CAST(sum(nk) AS BIGINT),
             sum(CAST(round(CAST(bal AS DOUBLE) * 100) AS BIGINT)) / 100.0,
             CAST(0 AS BIGINT)
        FROM b0
      UNION ALL SELECT 3, count(*), CAST(sum(nk) AS BIGINT),
             sum(CAST(round(CAST(bal AS DOUBLE) * 100) AS BIGINT)) / 100.0,
             count(seg)
        FROM v3
      ORDER BY version""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, Field, TableSchema}
      import org.apache.spark.sql.types._
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftevo"))
      val cust = t(s, d, "customer")
      val narrow = StructType(Seq(
        StructField("id", LongType), StructField("nk", IntegerType),
        StructField("bal", FloatType)))
      LakeTable.createTable(log, "c", narrow)
      def batch(m: Int) = cust.filter(pmod(col("c_custkey"), lit(2)) === m)
        .select(col("c_custkey").as("id"),
          col("c_nationkey").cast("int").as("nk"),
          col("c_acctbal").cast("float").as("bal"))
      LakeTable.insert(s, log, "c", batch(0), txnId = "evo-b0")
      log.evolveSchema("c", TableSchema(Seq(
        Field("id", "int64", nullable = true),
        Field("nk", "int64", nullable = true),
        Field("bal", "float64", nullable = true),
        Field("seg", "string", nullable = true))), "evo-widen")
      LakeTable.insert(s, log, "c",
        cust.filter(pmod(col("c_custkey"), lit(2)) === 1)
          .select(col("c_custkey").as("id"),
            col("c_nationkey").cast("long").as("nk"),
            col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg")), txnId = "evo-b1")
      val perVersion = Seq(1, 2, 3).map { v =>
        val df = LakeTable.read(s, log, "c", v.toLong)
        val segCnt = if (df.columns.contains("seg"))
          count(col("seg")) else lit(0L)
        df.agg(lit(v).as("version"), count(lit(1)).as("n_rows"),
          sum(col("nk").cast("long")).as("sum_nk"),
          (sum(round(col("bal").cast("double") * 100).cast("long")) / 100.0)
            .as("sum_bal"),
          segCnt.as("n_seg"))
      }
      perVersion.reduce(_ unionAll _).orderBy("version")
    }),

    Q("q_dedup_cc", oracleSql = """
      WITH fp AS (SELECT doc_id,
                    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
                  FROM documents),
           g AS (SELECT f, min(doc_id) AS m, count(*) AS c
                 FROM fp GROUP BY f)
      SELECT fp.doc_id AS id, g.m AS component
      FROM fp JOIN g USING (f) WHERE g.c > 1 ORDER BY id""",
      build = (s, d) => {
      // connected components over the exact-duplicate graph; dup groups are
      // cliques, so component(min-reachable-id) == min(doc_id) per
      // fingerprint group — giving CC a closed-form SQL oracle
      val fp = docsSpread(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("f"))
      val pairs = fp.select(col("doc_id").as("a_id"), col("f"))
        .join(fp.select(col("doc_id").as("b_id"), col("f")), Seq("f"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
      Dedup.connectedComponents(pairs)
        .orderBy("id")
    }),

    // RESTORE under the exact oracle: three committed slices, roll back to
    // the first, then commit a third — the final state must equal slice 0
    // + slice 2 with slice 1 GONE (restore is a new commit that re-exposes
    // v1's file set; time travel to the pre-restore head still sees B).
    Q("q_lake_restore", oracleSql = """
      SELECT 'head' AS state, count(*) AS n_rows,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_orderkey % 3 IN (0, 2)
      UNION ALL
      SELECT 'pre_restore', count(*), round(sum(l_extendedprice), 2)
      FROM lineitem WHERE l_orderkey % 3 IN (0, 1)
      ORDER BY state""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftres"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insertAll(s, log, "li", (0 to 1).map(m =>
        (li.filter(col("l_orderkey") % 3 === m), s"res-$m")))
      LakeTable.restore(log, "li", toVersion = 1L)
      LakeTable.insert(s, log, "li",
        li.filter(col("l_orderkey") % 3 === 2), txnId = "res-2")
      val head = LakeTable.read(s, log, "li").agg(
        lit("head").as("state"), count(lit(1)).as("n_rows"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      // the pre-restore head (version 2 = slices 0+1) is still addressable
      val preRestore = LakeTable.read(s, log, "li", 2L).agg(
        lit("pre_restore").as("state"), count(lit(1)).as("n_rows"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      head.unionAll(preRestore).orderBy("state")
    }),

    // UPSERT (MERGE) under the exact oracle: update half the keys, insert
    // fresh ones; the final table must equal the source with updated rows
    // CASE-mapped and the inserts appended — checked value-by-value.
    Q("q_lake_upsert", oracleSql = """
      WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0
                    THEN o_totalprice * 2
                    ELSE o_totalprice END AS p
        FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, 0.0
        FROM orders WHERE o_orderkey % 7 = 0)
      SELECT o_orderkey % 10 AS bucket, count(*) AS n_rows,
             round(sum(p), 2) AS sum_price
      FROM final GROUP BY bucket ORDER BY bucket""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftups"))
      val ord = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      LakeTable.createTable(log, "o", ord.schema)
      LakeTable.insert(s, log, "o", ord, numFiles = 4)
      // the update is an EXACT dyadic doubling: a ×1.1-and-round update
      // diverges cross-engine on .005 ties (Spark rounds the shortest
      // decimal rendering, DuckDB the raw binary value)
      val updates = ord.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = ord.filter(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_custkey"), lit(0.0).as("o_totalprice"))
      LakeTable.upsert(s, log, "o", updates.unionByName(inserts),
        "o_orderkey")
      LakeTable.read(s, log, "o")
        .groupBy(pmod(col("o_orderkey"), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("bucket")
    }),

    // REAL connected components under the exact oracle on a NON-clique
    // graph: q_dedup_cc's closed-form oracle only covers exact-dup
    // cliques, so here the portable-minhash candidate pairs feed the
    // label-propagation/pointer-doubling operator and DuckDB recomputes
    // the SAME pairs and closes them transitively with a recursive CTE —
    // the hash checks the fixpoint labels themselves. Survivors =
    // component representative (min doc_id) plus every unpaired doc;
    // byte lengths (octet_length/strlen) keep the check text-sensitive.
    // Candidate-pair generation (bucketed LSH) builds apart from the
    // timed probe (CC fixpoint + anti-join + aggregate) — same pricing
    // split as q_dedup_eval; the build's rep times land in the builds
    // sidecar, so a host-mode spike in pair generation is attributable
    // instead of inflating the headline.
    Q.split("q_dedup_cc_minhash", oracleSql = """
      WITH RECURSIVE norm AS (
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
      pairs AS (
        SELECT c.a_id, c.b_id
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id AND sb.i = sa.i
        GROUP BY c.a_id, c.b_id
        HAVING sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 16.0 >= 0.5),
      edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
      r(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r2.u, e.v FROM r r2 JOIN edges e ON r2.v = e.u),
      labels AS (
        SELECT u AS id, least(u, min(v)) AS comp FROM r GROUP BY u),
      dropped AS (SELECT id FROM labels WHERE comp < id)
      SELECT source, count(*) AS n_kept,
             CAST(sum(strlen(text)) AS BIGINT) AS kept_chars
      FROM documents
      WHERE doc_id NOT IN (SELECT id FROM dropped)
      GROUP BY source ORDER BY source""",
      phases = (s, d) => {
      val docs = t(s, d, "documents")
      var pairs: DataFrame = null
      (() => pairs = Dedup.minhashLshPairsFixed(docs, threshold = 0.5)
         .select("a_id", "b_id").localCheckpoint(),
       () => {
         val dropped = Dedup.connectedComponents(pairs)
           .filter(col("component") =!= col("id"))
           .select(col("id").as("doc_id"))
         docs.join(dropped, Seq("doc_id"), "left_anti")
           .groupBy("source")
           .agg(count(lit(1)).as("n_kept"),
             sum(octet_length(col("text"))).as("kept_chars"))
           .orderBy("source")
       })
    }),

    Q("q_lake_delete", oracleSql = """
      SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_quantity <= 40""",
      build = (s, d) => {
      // copy-on-write DELETE, hash-checked: the post-delete table must
      // equal the source filtered by the negated predicate
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftdel"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      LakeTable.deleteWhere(s, log, "li", "l_quantity > 40")
      LakeTable.read(s, log, "li").agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
    }),

    // Merge-on-read DELETE via deletion vectors, hash-checked: two
    // overlapping deletes punch position holes into files that are NEVER
    // rewritten (the in-query requires pin byte-identical data files and a
    // live DvRef), a third delete that only re-hits dead rows must be a
    // no-op, time travel still sees the pre-delete rows, and the
    // metadata-only COUNT(*) subtracts the holes exactly. DuckDB recomputes
    // the surviving rows from the raw source.
    Q("q_lake_dv", oracleSql = """
      SELECT l_orderkey % 4 AS bucket, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_quantity <= 40
      GROUP BY bucket ORDER BY bucket""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, StatsAgg}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftdv"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      val pre = log.snapshot("li")
      val preBytes = pre.files.map(f =>
        f.path -> java.nio.file.Files.size(java.nio.file.Paths.get(f.path)))
      LakeTable.deleteWhereMor(s, log, "li", "l_quantity > 45")
      LakeTable.deleteWhereMor(s, log, "li", "l_quantity > 40")
      // re-hitting only already-deleted positions commits nothing
      val vStable = log.latestVersion("li")
      LakeTable.deleteWhereMor(s, log, "li", "l_quantity > 44")
      require(log.latestVersion("li") == vStable,
        "no-op MOR delete committed a version")
      val snap = log.snapshot("li")
      require(snap.files.map(_.path).sorted == pre.files.map(_.path).sorted,
        "merge-on-read delete changed the data file set")
      require(preBytes.forall { case (p, sz) =>
        java.nio.file.Files.size(java.nio.file.Paths.get(p)) == sz },
        "merge-on-read delete rewrote data bytes")
      require(snap.files.exists(_.dvRows > 0), "no deletion vector attached")
      // time travel: the pre-delete version still sees every row
      require(LakeTable.read(s, log, "li", pre.version).count() ==
        pre.files.map(_.rows).sum, "time travel lost pre-delete rows")
      // metadata-only count subtracts dv positions exactly
      require(StatsAgg.fromStats(s, snap, Nil).get
        .head().getAs[Long]("n_rows") == snap.files.map(_.liveRows).sum,
        "stats count disagrees with dv metadata")
      LakeTable.read(s, log, "li")
        .groupBy(pmod(col("l_orderkey"), lit(4)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("bucket")
    }),

    // Shuffle-free fact-fact join via BUCKETED layout: both sides are
    // written hash-clustered into 8 buckets on the join key, so the join
    // AND the key-prefixed aggregation plan with ZERO hash exchanges — the
    // in-query require pins it (broadcast forced off so the zero can only
    // come from bucket alignment). DuckDB recomputes the join from the raw
    // sources: layout must never change answers.
    // the bucketed LAYOUT is a one-time write (Bench's `builds` sidecar);
    // the headline is the recurring zero-exchange join it buys
    Q.split("q_join_bucketed", oracleSql = """
      SELECT o_orderkey, o_custkey, count(*) AS n_items,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderkey, o_custkey
      ORDER BY sum_price DESC, o_orderkey LIMIT 10""",
      phases = (s, d) => {
      import graft.operators.Bucketing
      val dir = java.nio.file.Files.createTempDirectory("graftbkt")
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val ord = t(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      (() => {
         Bucketing.writeBucketed(s, li, "graft_bkt_li", "l_orderkey", 8,
           Some(dir.resolve("li").toString))
         Bucketing.writeBucketed(s, ord, "graft_bkt_ord", "l_orderkey", 8,
           Some(dir.resolve("ord").toString))
         ()
       },
       () => {
         val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
         try {
           s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
           val joined = Bucketing.bucketedJoin(s, "graft_bkt_li",
               "graft_bkt_ord", "l_orderkey")
             .groupBy("l_orderkey", "o_custkey")
             .agg(count(lit(1)).as("n_items"),
               round(sum("l_extendedprice"), 2).as("sum_price"))
           require(Bucketing.hashExchanges(joined) == 0,
             "co-bucketed join planned a hash exchange")
           // the top-N sort is a range exchange over ALREADY-AGGREGATED
           // rows
           joined.orderBy(col("sum_price").desc, col("l_orderkey"))
             .limit(10)
             .select(col("l_orderkey").as("o_orderkey"), col("o_custkey"),
               col("n_items"), col("sum_price"))
         } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
       })
    }),

    // Change feed with row-level deletes (Delta CDF analog): inserts from
    // the append feed, deletes enumerated EXACTLY from deletion-vector
    // growth — both metadata-priced (only files whose DV grew are read,
    // position-joined). DuckDB recomputes both halves from the raw source.
    // The CDC reader as a SQL table-valued function — Delta's
    // `table_changes` UX: TABLE_CHANGES('w', 1) substitutes the (1,
    // latest] change feed (inserts + DV-delete pre-images tagged
    // _change_type) anywhere a table can appear, so the caller
    // aggregates/joins it in plain SQL. Oracle replays both feed arms
    // from raw lineitem.
    // q_lake_table_changes: the (v1, latest] feed = batch-2 inserts
    // plus DV-delete pre-images over the whole table.
    Q("q_lake_table_changes", oracleSql = """
      WITH feed AS (
        SELECT 'insert' AS _change_type, l_returnflag, l_quantity
        FROM lineitem WHERE l_orderkey % 2 = 1
        UNION ALL
        SELECT 'delete' AS _change_type, l_returnflag, l_quantity
        FROM lineitem WHERE l_quantity > 45)
      SELECT _change_type, l_returnflag, count(*) AS n,
             round(sum(l_quantity), 2) AS sum_qty
      FROM feed GROUP BY 1, 2 ORDER BY 1, 2""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("grafttc"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      LakeTable.createTable(log, "w", li.schema)
      // stage both batches concurrently, commit in order (identical history)
      LakeTable.insertAll(s, log, "w", Seq(
        (li.filter(col("l_orderkey") % 2 === 0), "b1"),
        (li.filter(col("l_orderkey") % 2 === 1), "b2")))
      LakeTable.deleteWhereMor(s, log, "w", "l_quantity > 45",
        txnId = "del1")
      LakeSql.execute(s, log,
        "SELECT _change_type, l_returnflag, count(*) AS n, " +
          "round(sum(l_quantity), 2) AS sum_qty " +
          "FROM TABLE_CHANGES('w', 1) " +
          "GROUP BY _change_type, l_returnflag " +
          "ORDER BY _change_type, l_returnflag")
    }),
    Q("q_lake_cdf", oracleSql = """
      SELECT ct AS _change_type, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM (
        SELECT 'insert' AS ct, l_quantity, l_extendedprice
        FROM lineitem WHERE l_orderkey % 2 = 1
        UNION ALL
        SELECT 'delete' AS ct, l_quantity, l_extendedprice
        FROM lineitem WHERE l_quantity > 45)
      GROUP BY ct ORDER BY ct""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftcdf"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      // stage both halves concurrently, commit in order; v0 = the first
      // commit's version, exactly what latestVersion returned between the
      // old sequential inserts
      val insRes = LakeTable.insertAll(s, log, "li", Seq(
        (li.filter(col("l_orderkey") % 2 === 0),
          java.util.UUID.randomUUID().toString),
        (li.filter(col("l_orderkey") % 2 === 1),
          java.util.UUID.randomUUID().toString)), numFiles = 2)
      val v0 = insRes.head.version
      LakeTable.deleteWhereMor(s, log, "li", "l_quantity > 45")
      LakeTable.changeFeed(s, log, "li", v0)
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("_change_type")
    }),

    // Incremental MV maintenance UNDER DELETES: the deletion vector
    // enumerates exactly the deleted rows, so the count/sum MV folds a
    // merge-on-read delete as a NEGATIVE delta — O(delta), no base
    // re-scan (the in-query require pins mode == incremental_dv). The
    // final MV hash-checks against DuckDB's from-scratch aggregate.
    Q("q_lake_mv_mor", oracleSql = """
      SELECT l_returnflag, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_quantity <= 45
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, MaterializedView}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvmor"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      val mv = MaterializedView.MvDef("mv_flag", "li", "l_returnflag",
        sumCols = Seq("l_quantity", "l_extendedprice"))
      MaterializedView.create(log, mv)
      LakeTable.insert(s, log, "li",
        li.filter(col("l_orderkey") % 2 === 0), numFiles = 2)
      MaterializedView.refresh(s, log, mv)
      LakeTable.insert(s, log, "li",
        li.filter(col("l_orderkey") % 2 === 1), numFiles = 2)
      LakeTable.deleteWhereMor(s, log, "li", "l_quantity > 45")
      val res = MaterializedView.refresh(s, log, mv)
      require(res.mode == "incremental_dv",
        s"expected incremental_dv refresh, got ${res.mode}")
      MaterializedView.read(s, log, mv)
        .select(col("l_returnflag"), col("n_rows"),
          round(col("sum_l_quantity"), 2).as("sum_qty"),
          round(col("sum_l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // The SQL DML surface end-to-end: CREATE / INSERT INTO..SELECT /
    // merge-on-read DELETE / copy-on-write DELETE (hint) / OPTIMIZE /
    // VACUUM / SELECT — every statement a LakeSql.execute string, every
    // mutation a real OCC commit. DuckDB recomputes the final state from
    // the raw source: the two deletes compose to l_quantity <= 40.
    Q("q_lake_sql_dml", oracleSql = """
      SELECT l_orderkey % 4 AS bucket, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_quantity <= 40
      GROUP BY bucket ORDER BY bucket""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftsql"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "src", li.schema)
      LakeTable.insert(s, log, "src", li, numFiles = 2)
      def sql(q: String) = LakeSql.execute(s, log, q)
      sql("CREATE TABLE work (l_orderkey int64, l_linenumber int32, " +
        "l_quantity float64, l_extendedprice float64)")
      sql("INSERT INTO work SELECT l_orderkey, l_linenumber, l_quantity, " +
        "l_extendedprice FROM src WHERE l_orderkey % 2 = 0")
      sql("INSERT INTO work SELECT l_orderkey, l_linenumber, l_quantity, " +
        "l_extendedprice FROM src WHERE l_orderkey % 2 = 1")
      val mor = sql("DELETE FROM work WHERE l_quantity > 45").head()
      require(mor.getAs[String]("mode") == "mor", "expected a MOR delete")
      require(log.snapshot("work").files.exists(_.dvRows > 0),
        "no deletion vector after SQL DELETE")
      sql("DELETE /*+ COW */ FROM work WHERE l_quantity > 40")
      sql("OPTIMIZE work")
      sql("VACUUM work RETAIN 1 VERSIONS")
      sql("SELECT l_orderkey % 4 AS bucket, count(*) AS n_rows, " +
        "round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_price " +
        "FROM work GROUP BY bucket ORDER BY bucket")
    }),

    // Iceberg-style TAGS (graft.lake.Refs): immutable named refs over
    // versions — "what data trained this model" becomes a name. Three
    // slice inserts mint v1..v3; tags pin v1/v2; the SELECT face
    // resolves `VERSION AS OF 'tag'` through the refs; DESCRIBE REFS
    // supplies the (tag, version) binding the output carries. The
    // oracle recomputes each tagged snapshot's content from the same
    // slices — hash-checking ref resolution end-to-end.
    // Ref resolution replayed: tags rel-1/rel-2 pin v1/v2 (slices 0 /
    // 0-1); the prod BRANCH was created at v2 then moved to v3, so its
    // binding is v3 with the full corpus — content recomputed from the
    // same slices.
    Q("q_lake_tag", oracleSql = """
      SELECT 'prod' AS ref, 'branch' AS kind, CAST(3 AS BIGINT) AS version,
             count(*) AS n_rows,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem
      UNION ALL
      SELECT 'rel-1' AS ref, 'tag' AS kind, CAST(1 AS BIGINT) AS version,
             count(*) AS n_rows,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_orderkey % 3 = 0
      UNION ALL
      SELECT 'rel-2' AS ref, 'tag' AS kind, CAST(2 AS BIGINT) AS version,
             count(*) AS n_rows,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_orderkey % 3 <= 1
      ORDER BY ref""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("grafttag"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insertAll(s, log, "li", (0 to 2).map(m =>
        (li.filter(col("l_orderkey") % 3 === m), s"slice-$m")))
      def sql(q: String) = LakeSql.execute(s, log, q)
      sql("ALTER TABLE li CREATE TAG rel-1 AS OF VERSION 1")
      sql("ALTER TABLE li CREATE TAG rel-2 AS OF VERSION 2")
      // branch = the movable promotion pointer: created at v2 and
      // MOVED to v3 after "validation" — consumers of 'prod' ride the
      // move, which the oracle checks via the final binding + content
      sql("ALTER TABLE li CREATE BRANCH prod AS OF VERSION 2")
      sql("ALTER TABLE li MOVE BRANCH prod TO VERSION 3")
      val per = Seq("prod", "rel-1", "rel-2").map { ref =>
        sql(s"SELECT count(*) AS n_rows, " +
            s"round(sum(l_extendedprice), 2) AS sum_price " +
            s"FROM li VERSION AS OF '$ref'")
          .select(lit(ref).as("ref"), col("n_rows"), col("sum_price"))
      }.reduce(_ unionAll _)
      sql("DESCRIBE REFS li")
        .select(col("name").as("ref"), col("kind"), col("version"))
        .join(per, "ref")
        .orderBy("ref")
    }),

    // Write-audit-publish (graft.lake.Wap — Iceberg's WAP pattern): a
    // staged batch is real files main readers cannot see; the audit
    // reads the overlay; publish is one OCC commit adopting the staged
    // files; a failing audit aborts with zero versions minted. The
    // lifecycle emits one row per phase (counts + the version the main
    // line showed at that moment) and DuckDB replays every number from
    // the same slices — including the planted-duplicate audit failure.
    // WAP lifecycle replayed: staged batches never touch the main
    // line's counts or versions. The synthetic lineitem's (okey, lineno)
    // keys are NOT unique, so the audit gate's duplicate-key counts are
    // real key math: the good overlay carries each slice's internal
    // dups; restaging slice 0 makes EVERY slice-0 key a duplicate.
    Q("q_lake_wap", oracleSql = """
      WITH k0 AS (SELECT l_orderkey, l_linenumber, count(*) AS c
                  FROM lineitem WHERE l_orderkey % 3 = 0 GROUP BY 1, 2),
           k1 AS (SELECT l_orderkey, l_linenumber, count(*) AS c
                  FROM lineitem WHERE l_orderkey % 3 = 1 GROUP BY 1, 2),
           s0 AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                         CAST(count(*) AS BIGINT) AS dk,
                         CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS dup
                  FROM k0),
           s1 AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                         CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS dup
                  FROM k1)
      SELECT '1-base' AS phase, CAST(1 AS BIGINT) AS version,
             s0.n AS n_rows, CAST(0 AS BIGINT) AS audit_dups FROM s0
      UNION ALL
      SELECT '2-audit-good', CAST(1 AS BIGINT),
             s0.n + s1.n, s0.dup + s1.dup FROM s0, s1
      UNION ALL
      SELECT '3-published', CAST(2 AS BIGINT),
             s0.n + s1.n, CAST(0 AS BIGINT) FROM s0, s1
      UNION ALL
      SELECT '4-audit-bad', CAST(2 AS BIGINT),
             2 * s0.n + s1.n, s0.dk + s1.dup FROM s0, s1
      UNION ALL
      SELECT '5-final', CAST(2 AS BIGINT),
             s0.n + s1.n, CAST(0 AS BIGINT) FROM s0, s1
      ORDER BY phase""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, Wap}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftwap"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li",
        li.filter(col("l_orderkey") % 3 === 0), txnId = "base")
      def phase(name: String, n: Long, extra: Long) = {
        import s.implicits._
        Seq((name, log.latestVersion("li"), n, extra))
          .toDF("phase", "version", "n_rows", "audit_dups")
      }
      // one aggregate answers both audit questions (row count = Σ group
      // counts, duplicate keys = groups with n > 1) — was two jobs over
      // the same overlay
      def auditCounts(overlay: DataFrame): (Long, Long) = {
        val r = overlay.groupBy("l_orderkey", "l_linenumber")
          .agg(count(lit(1)).as("n"))
          .agg(coalesce(sum("n"), lit(0L)).as("rows"),
            count(when(col("n") > 1, 1)).as("dups")).head
        (r.getLong(0), r.getLong(1))
      }
      val base = phase("1-base",
        LakeTable.read(s, log, "li").count(), 0L)
      // good batch: a DISJOINT slice — the audit records the overlay's
      // duplicate-key count (the synthetic lineitem has internal key
      // dups, so this is each slice's own baseline, not zero)
      Wap.stage(s, log, "li", li.filter(col("l_orderkey") % 3 === 1),
        wapId = "crawl-good")
      val (gRows, gDups) = auditCounts(
        Wap.readStaged(s, log, "li", "crawl-good"))
      val auditGood = phase("2-audit-good", gRows, gDups)
      Wap.publish(s, log, "li", "crawl-good")
      val published = phase("3-published",
        LakeTable.read(s, log, "li").count(), 0L)
      // bad batch: REPLAYS the base slice — every key duplicates; the
      // audit gate fails and the abort leaves no trace
      Wap.stage(s, log, "li", li.filter(col("l_orderkey") % 3 === 0),
        wapId = "crawl-bad")
      val (bRows, bDups) = auditCounts(
        Wap.readStaged(s, log, "li", "crawl-bad"))
      val auditBad = phase("4-audit-bad", bRows, bDups)
      Wap.abort(log, "li", "crawl-bad")
      val fin = phase("5-final",
        LakeTable.read(s, log, "li").count(), 0L)
      Seq(base, auditGood, published, auditBad, fin)
        .reduce(_ unionAll _).orderBy("phase")
    }),

    Q("q_lake_vacuum", oracleSql = """
      SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_quantity <= 40""",
      build = (s, d) => {
      // VACUUM under the exact oracle: a multi-commit lifecycle (3 inserts
      // → copy-on-write DELETE → forced compaction) strands every
      // pre-rewrite file behind the latest snapshot; vacuum with
      // retainVersions=1 physically deletes all of them, and the
      // post-GC read must still hash-match DuckDB's recomputation of the
      // surviving rows from the raw source. The in-query requires pin
      // that GC really deleted files and never touched a live one (the
      // file count visible to the latest snapshot is unchanged).
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftvac"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insertAll(s, log, "li", (0 to 2).map(m =>
        (li.filter(pmod(col("l_orderkey"), lit(3)) === m), s"slice-$m")),
        numFiles = 3)
      LakeTable.deleteWhere(s, log, "li", "l_quantity > 40")
      LakeTable.compact(s, log, "li", force = true)
      val liveBefore = log.snapshot("li").files.map(_.path).toSet
      val report = LakeTable.vacuum(log, "li", retainVersions = 1,
        tmpRetainMs = 0L)
      val liveAfter = log.snapshot("li").files.map(_.path).toSet
      require(report.deleted > 0, "vacuum deleted nothing — lifecycle broken")
      require(liveAfter == liveBefore &&
        liveAfter.forall(p => java.nio.file.Files.exists(
          java.nio.file.Paths.get(p))),
        "vacuum touched a live file")
      LakeTable.read(s, log, "li").agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
    }),

    // Metadata-only aggregates: COUNT(*) / COUNT(c) / MIN / MAX answered
    // ENTIRELY from the log's per-file footer stats (StatsAgg) — the
    // Delta/Iceberg "select count(*) without touching data" trick. The
    // in-query require makes the zero-I/O claim physical: every data file
    // is DELETED from disk before the aggregate runs, so the numbers can
    // only have come from metadata; DuckDB recomputes them from the
    // original source. COUNT(c) additionally exercises the footer
    // null-count stats via an injected 10%-null quantity column.
    // the Spark side answered these from footer stats alone (data files
    // physically deleted before the aggregate); DuckDB computes them the
    // honest way from the raw source — equality proves the metadata is an
    // exact witness, not an approximation
    Q("q_lake_stats_agg", oracleSql = """
      SELECT count(*) AS n_rows,
             count(CASE WHEN l_linenumber % 10 = 0 THEN NULL
                        ELSE l_quantity END) AS cnt_qty,
             min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
             min(CASE WHEN l_linenumber % 10 = 0 THEN NULL
                      ELSE l_quantity END) AS min_qty,
             max(CASE WHEN l_linenumber % 10 = 0 THEN NULL
                      ELSE l_quantity END) AS max_qty,
             min(l_extendedprice) AS min_price,
             max(l_extendedprice) AS max_price
      FROM lineitem""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, StatsAgg}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftstats"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"),
          when(col("l_linenumber") % 10 === 0, lit(null))
            .otherwise(col("l_quantity")).as("l_quantity"),
          col("l_extendedprice"))
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      log.snapshot("li").files.foreach(f =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
      val res = StatsAgg.fromStats(s, log.snapshot("li"),
        Seq("l_orderkey", "l_quantity", "l_extendedprice")).getOrElse(
        throw new IllegalStateException(
          "stats-only aggregate fell back — footer stats incomplete"))
      res.select(col("n_rows"), col("cnt_l_quantity").as("cnt_qty"),
        col("min_l_orderkey").as("min_ok"), col("max_l_orderkey").as("max_ok"),
        col("min_l_quantity").as("min_qty"), col("max_l_quantity").as("max_qty"),
        col("min_l_extendedprice").as("min_price"),
        col("max_l_extendedprice").as("max_price"))
    }),

    // The grouped variant, through the API surface: GROUP BY the partition
    // column is answered by grouping the log's FileAdds (each file carries
    // its partition values + row count + stats) — the "rows per partition"
    // ops query at O(#files). Same zero-I/O witness: data files deleted
    // before the query; the answer comes through QueryApi's fast path.
    Q("q_lake_stats_by_part", oracleSql = """
      SELECT l_returnflag, count(*) AS n_rows,
             min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
             min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftstatsp"))
      val li = t(s, d, "lineitem")
        .select("l_returnflag", "l_orderkey", "l_quantity")
      LakeTable.createTable(log, "li", li.schema,
        partitionBy = Seq("l_returnflag"))
      LakeTable.insert(s, log, "li", li, numFiles = 3)
      log.snapshot("li").files.foreach(f =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
      graft.api.QueryApi.runLake(s, log, """
        {"table_name": "li", "group_by": ["l_returnflag"],
         "aggregates": [
           {"function": "count", "column": "*", "alias": "n_rows"},
           {"function": "min", "column": "l_orderkey", "alias": "min_ok"},
           {"function": "max", "column": "l_orderkey", "alias": "max_ok"},
           {"function": "min", "column": "l_quantity", "alias": "min_qty"},
           {"function": "max", "column": "l_quantity", "alias": "max_qty"}]}""")
    }),

    // Row-level DIFF between versions (table_changes analog): a lifecycle
    // of copy-on-write DELETE + UPSERT (updates + fresh inserts) between
    // v1 and latest; diff reads ONLY the files in the two snapshots'
    // symmetric difference and classifies each changed row. DuckDB
    // re-derives the same change set from the raw source predicates;
    // rows rewritten unchanged (delete/upsert survivors) must cancel.
    Q("q_lake_diff", oracleSql = """
      WITH base AS (
        SELECT l_orderkey * 10 + l_linenumber AS lkey,
               min(l_quantity) AS l_quantity,
               min(l_extendedprice) AS l_extendedprice
        FROM lineitem GROUP BY 1),
      del AS (
        SELECT lkey, 'delete' AS change_type,
               l_quantity AS old_l_quantity,
               CAST(NULL AS DOUBLE) AS new_l_quantity,
               l_extendedprice AS old_l_extendedprice,
               CAST(NULL AS DOUBLE) AS new_l_extendedprice
        FROM base WHERE l_quantity > 45),
      upd AS (
        SELECT lkey, 'update', l_quantity, l_quantity,
               l_extendedprice, l_extendedprice + 1000
        FROM base WHERE lkey % 7 = 0 AND l_quantity <= 45),
      ins AS (
        SELECT -lkey, 'insert', CAST(NULL AS DOUBLE), l_quantity,
               CAST(NULL AS DOUBLE), l_extendedprice
        FROM base WHERE lkey % 11 = 0)
      SELECT * FROM (
        SELECT * FROM del UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM ins)
      ORDER BY lkey""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftdiff"))
      // the synthetic lineitem repeats (orderkey, linenumber) pairs — a
      // keyed diff needs unique keys, so reduce to one row per key first
      val li = t(s, d, "lineitem")
        .groupBy((col("l_orderkey") * 10 + col("l_linenumber")).as("lkey"))
        .agg(min("l_quantity").as("l_quantity"),
          min("l_extendedprice").as("l_extendedprice"))
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      val v1 = log.latestVersion("li")
      LakeTable.deleteWhere(s, log, "li", "l_quantity > 45")
      val ups = li.filter(col("lkey") % 7 === 0 && col("l_quantity") <= 45)
        .withColumn("l_extendedprice", col("l_extendedprice") + 1000)
      val news = li.filter(col("lkey") % 11 === 0)
        .select((-col("lkey")).as("lkey"), col("l_quantity"),
          col("l_extendedprice"))
      LakeTable.upsert(s, log, "li", ups.unionAll(news), keyCol = "lkey")
      LakeTable.diff(s, log, "li", fromVersion = v1, keyCols = Seq("lkey"))
        .orderBy("lkey")
    }),

    // SHALLOW CLONE: version 1 of the clone re-adds the source snapshot's
    // files by path — zero bytes copied (the require pins that every clone
    // file IS a source file). The tables then diverge: an extra slice
    // lands only in the clone, a DELETE hits only the source — and the
    // clone's hash must equal DuckDB's recomputation of (full source +
    // extra slice), proving both the sharing and the independence.
    Q("q_lake_clone", oracleSql = """
      SELECT count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM (SELECT l_quantity, l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_quantity, l_extendedprice FROM lineitem
            WHERE l_orderkey % 5 = 0)""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftclone"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      val srcFiles = log.snapshot("li").files.map(_.path).toSet
      LakeTable.cloneTable(log, "li", "li_clone")
      require(log.snapshot("li_clone").files.map(_.path).toSet == srcFiles,
        "clone staged new data files — not zero-copy")
      // divergence ops hit DIFFERENT tables (per-table commit locks):
      // run the clone's extra slice and the source's delete concurrently
      LakeTable.inParallel(Seq(
        () => { LakeTable.insert(s, log, "li_clone",
          li.filter(col("l_orderkey") % 5 === 0), txnId = "extra"); () },
        () => { LakeTable.deleteWhere(s, log, "li", "l_quantity > 25"); () }))
      LakeTable.read(s, log, "li_clone").agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
    }),

    // Inverted-index keyword search: postings (term, doc_id, tf) persisted
    // as a term-clustered, bloom-indexed lake table; the conjunctive query
    // probes only the files its terms can live in (pruning pinned in
    // InvertedIndexSpec) and DuckDB replays tokenize → postings →
    // AND-intersection over the raw text.
    Q.split("q_search_index", oracleSql = """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      m AS (SELECT doc_id, count(*) AS n_matched,
                   CAST(sum(tf) AS BIGINT) AS total_tf
            FROM tf WHERE term IN ('spark', 'window', 'hash') GROUP BY 1)
      SELECT doc_id, total_tf FROM m WHERE n_matched = 3 ORDER BY doc_id""",
      phases = (s, d) => {
      import graft.lake.LakeLog
      import graft.operators.InvertedIndex
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftidx"))
      (() => InvertedIndex.buildIndex(s, log, "idx", t(s, d, "documents"),
         numFiles = 8),
       () => InvertedIndex.searchIndex(s, log, "idx",
           Seq("spark", "window", "hash"))
         .orderBy("doc_id"))
    }),

    // Exact-phrase retrieval over a persisted POSITIONAL index: each
    // occurrence of term i rebased to its implied anchor (pos − i), a
    // match = an anchor surviving every rebase join — work is
    // O(occurrences of the phrase's terms) off bloom-pruned clustered
    // postings runs, the corpus never moves. DuckDB replays positional
    // postings and the rebase joins end-to-end.
    Q.split("q_search_phrase", oracleSql = """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '') AS t
        FROM documents),
      pp AS (
        SELECT doc_id, i AS pos, t[i + 1] AS term
        FROM toks, UNNEST(range(len(t))) AS u(i)),
      a0 AS (SELECT doc_id, pos AS p0 FROM pp WHERE term = 'table'),
      a1 AS (SELECT doc_id, pos - 1 AS p0 FROM pp WHERE term = 'scan'),
      m AS (SELECT a0.doc_id, a0.p0 FROM a0 JOIN a1 USING (doc_id, p0))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
      FROM m GROUP BY 1 ORDER BY doc_id""",
      phases = (s, d) => {
      import graft.lake.LakeLog
      import graft.operators.InvertedIndex
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftph"))
      (() => InvertedIndex.buildPhraseIndex(s, log, "ph",
         t(s, d, "documents"), numFiles = 8),
       () => InvertedIndex.phraseSearchIndex(s, log, "ph",
           Seq("table", "scan"))
         .orderBy("doc_id"))
    }),

    // Keyword-in-context snippets: every occurrence of a term with its
    // ±3-token window — the attribution/audit UX over positions. Token
    // arrays join back ONLY for matched docs (left-semi before the
    // arrays materialize); DuckDB replays the slice arithmetic.
    Q("q_search_kwic", oracleSql = """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '') AS t
        FROM documents),
      pp AS (
        SELECT doc_id, i AS pos, t[i + 1] AS term
        FROM toks, UNNEST(range(len(t))) AS u(i)),
      m AS (SELECT doc_id, pos FROM pp WHERE term = 'dup')
      SELECT m.doc_id, CAST(m.pos AS BIGINT) AS pos,
             array_to_string(
               t.t[greatest(m.pos - 3, 0) + 1 : m.pos + 4], ' ')
               AS snippet
      FROM m JOIN toks t USING (doc_id)
      ORDER BY doc_id, pos""",
      build = (s, d) =>
      graft.operators.InvertedIndex.keywordInContext(
          t(s, d, "documents"), "dup", window = 3)
        .orderBy("doc_id", "pos")),

    // Proximity (NEAR/3, any order) retrieval — the relevance signal
    // between bag-of-words AND and the exact phrase: two bloom-pruned
    // single-term postings runs equi-joined on doc_id with an |Δpos|
    // filter; fan-out is per-doc occurrence products of two terms.
    Q.split("q_search_near", oracleSql = """
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
          x -> x <> '') AS t
        FROM documents),
      pp AS (
        SELECT doc_id, i AS pos, t[i + 1] AS term
        FROM toks, UNNEST(range(len(t))) AS u(i)),
      a AS (SELECT doc_id, pos AS p1 FROM pp WHERE term = 'sort'),
      b AS (SELECT doc_id, pos AS p2 FROM pp WHERE term = 'merge')
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs
      FROM a JOIN b USING (doc_id) WHERE abs(p1 - p2) <= 3
      GROUP BY 1 ORDER BY doc_id""",
      phases = (s, d) => {
      import graft.lake.LakeLog
      import graft.operators.InvertedIndex
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftnr"))
      (() => InvertedIndex.buildPhraseIndex(s, log, "nr",
         t(s, d, "documents"), numFiles = 8),
       () => InvertedIndex.proximitySearchIndex(s, log, "nr",
           "sort", "merge", window = 3)
         .orderBy("doc_id"))
    }),

    // Incremental materialized-view maintenance, end-to-end under the
    // oracle: two appended slices fold in via INCREMENTAL refreshes, a
    // DELETE forces the full-recompute fallback, then a third slice folds
    // into that state incrementally — so the final hash checks the
    // delta-merge arithmetic (sum-of-sums / count merge), not just a
    // recompute. Oracle = the same aggregate over the surviving logical
    // rows: slices 0,1 minus the deleted quantities, plus all of slice 2.
    // JOIN (star-schema) materialized view: revenue per dim attribute
    // without re-joining per query. Fact appends fold INCREMENTALLY
    // through the join while the dim is unchanged (delta ⋈ dim →
    // upsert); a dim commit — even one adding no matching rows — forces
    // the full-recompute path (a dim change can rewrite history for
    // folded fact rows), and both mode transitions are `require`d
    // in-query. The oracle replays the whole join-aggregate from raw
    // lineitem ⋈ orders.
    // q_lake_mv_join: the star-join aggregate recomputed from raw
    // tables — the dummy dim row matches no facts and must not appear.
    Q("q_lake_mv_join", oracleSql = """
      SELECT o_orderpriority AS priority, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable, MaterializedView}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvj"))
      val fact = t(s, d, "lineitem").select(
        col("l_orderkey").as("orderkey"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"))
      val dim = t(s, d, "orders").select(
        col("o_orderkey").as("orderkey"),
        col("o_orderpriority").as("priority"))
      LakeTable.createTable(log, "fact", fact.schema)
      LakeTable.createTable(log, "dim", dim.schema)
      LakeTable.insert(s, log, "dim", dim, txnId = "dim-load")
      LakeSql.execute(s, log, "CREATE MATERIALIZED VIEW rev_by_prio ON " +
        "fact JOIN dim ON orderkey KEY priority SUM (qty, price)")
      val mv = MaterializedView.loadDef(log, "rev_by_prio").get
      LakeTable.insert(s, log, "fact",
        fact.filter(col("orderkey") % 3 =!= 0), txnId = "facts-1")
      val r1 = MaterializedView.refresh(s, log, mv)
      require(r1.mode == "incremental",
        s"first fact window should fold incrementally, got ${r1.mode}")
      LakeTable.insert(s, log, "fact",
        fact.filter(col("orderkey") % 3 === 0), txnId = "facts-2")
      val r2 = MaterializedView.refresh(s, log, mv)
      require(r2.mode == "incremental",
        s"append window should fold incrementally, got ${r2.mode}")
      // dim-only commit (no matching orderkey): fact is current but the
      // MV is stale vs the dim — must NOT noop, must take the full path
      import s.implicits._
      LakeTable.insert(s, log, "dim",
        Seq((-1L, "0-DUMMY")).toDF("orderkey", "priority"),
        txnId = "dim-late")
      val r3 = MaterializedView.refresh(s, log, mv)
      require(r3.mode == "full",
        s"dim commit must force full recompute, got ${r3.mode}")
      LakeTable.read(s, log, "rev_by_prio")
        .select(col("priority"), col("n_rows"),
          round(col("sum_qty"), 2).as("sum_qty"),
          round(col("sum_price"), 2).as("sum_price"))
        .orderBy("priority")
    }),
    Q("q_lake_mv", oracleSql = """
      SELECT l_returnflag, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price,
             round(min(l_quantity), 2) AS min_qty,
             round(max(l_extendedprice), 2) AS max_price
      FROM lineitem
      WHERE (l_orderkey % 3 <> 2 AND l_quantity <= 45)
         OR l_orderkey % 3 = 2
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, MaterializedView}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftmv"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      val mv = MaterializedView.MvDef("li_by_flag", "li", "l_returnflag",
        Seq("l_quantity", "l_extendedprice"),
        minCols = Seq("l_quantity"), maxCols = Seq("l_extendedprice"))
      MaterializedView.create(log, mv)
      (0 to 1).foreach { m =>
        LakeTable.insert(s, log, "li",
          li.filter(col("l_orderkey") % 3 === m), txnId = s"slice-$m")
        assert(MaterializedView.refresh(s, log, mv).mode == "incremental")
      }
      LakeTable.deleteWhere(s, log, "li", "l_quantity > 45")
      assert(MaterializedView.refresh(s, log, mv).mode == "full")
      LakeTable.insert(s, log, "li",
        li.filter(col("l_orderkey") % 3 === 2), txnId = "slice-2")
      // this last refresh exercises the monotone min/max merge: slice-2's
      // per-key extremes fold into the post-delete MV values
      assert(MaterializedView.refresh(s, log, mv).mode == "incremental")
      LakeTable.read(s, log, "li_by_flag")
        .select(col("l_returnflag"), col("n_rows"),
          round(col("sum_l_quantity"), 2).as("sum_qty"),
          round(col("sum_l_extendedprice"), 2).as("sum_price"),
          round(col("min_l_quantity"), 2).as("min_qty"),
          round(col("max_l_extendedprice"), 2).as("max_price"))
        .orderBy("l_returnflag")
    }),

    // Mann–Kendall monotone-trend test: S = Σ sign(v_j − v_i) over each
    // type's time-ordered values — pure integer, outlier-robust,
    // distribution-free. The engine counts inversions in O(n log n) per
    // series (merge sort); the oracle brute-forces the textbook
    // all-pairs sum — their equality checks the counting identity on
    // real data.
    // q_trend_mk: the textbook all-pairs sign sum — equality with the
    // engine's merge-sort inversion count IS the identity under test.
    Q("q_trend_mk", oracleSql = """
      WITH pts AS (
        SELECT event_type AS k2,
               CAST(round(value * 100) AS BIGINT) AS v,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY epoch_us(ts), CAST(round(value * 100) AS BIGINT))
                 AS pos
        FROM events),
      n_t AS (SELECT k2, COUNT(*) AS n FROM pts GROUP BY 1),
      sgn AS (
        SELECT a.k2,
               CAST(SUM(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
                 AS s
        FROM pts a JOIN pts b ON b.k2 = a.k2 AND b.pos > a.pos
        GROUP BY 1)
      SELECT sgn.k2 AS event_type, CAST(n_t.n AS BIGINT) AS n, sgn.s,
             CAST(sgn.s * 1000000 // (n_t.n * (n_t.n - 1) // 2)
               AS BIGINT) AS tau_ppm
      FROM sgn JOIN n_t ON n_t.k2 = sgn.k2
      ORDER BY event_type""",
      build = (s, d) => {
      val ev = t(s, d, "events").select(col("event_type"),
        unix_micros(col("ts")).as("t_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
      graft.operators.Trend.mannKendall(ev, "event_type", "t_us",
          "v_cents")
        .orderBy("event_type")
    }),

    // LTTB downsampling (Steinarsson 2013): each event type's 2000-point
    // series reduces to 22 visually-faithful points — first/last pinned,
    // interior buckets keep their largest-triangle point vs the next
    // bucket's centroid. Integer microsecond × cent-scaled arithmetic
    // makes every area comparison exact; the oracle replays the full
    // prev-dependent selection via a precomputed transition table + a
    // recursive walk.
    // q_ts_downsample: LTTB's selection depends on the PREVIOUSLY kept
    // point, so the oracle precomputes a (bucket, prev-candidate) →
    // best-candidate transition table (windows allowed there) and a
    // recursive CTE walks it — the same static-transition + linear-walk
    // split as the WordPiece/CUSUM oracles. All HUGEINT cross-products.
    Q("q_ts_downsample", oracleSql = """
      WITH RECURSIVE pts AS (
        SELECT event_type AS k2, epoch_us(ts) AS t,
               CAST(round(value * 100) AS BIGINT) AS v,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY epoch_us(ts), CAST(round(value * 100) AS BIGINT))
                 - 1 AS pos
        FROM events),
      n_t AS (SELECT k2, COUNT(*) AS n FROM pts GROUP BY 1),
      b AS (
        SELECT k2, i, 1 + (i * (n - 2)) // 20 AS lo,
               1 + ((i + 1) * (n - 2)) // 20 AS hi
        FROM n_t, UNNEST(range(20)) AS u(i)),
      bagg AS (
        SELECT b.k2, b.i, SUM(p.t) AS sx, SUM(p.v) AS sy, COUNT(*) AS m
        FROM b JOIN pts p ON p.k2 = b.k2 AND p.pos >= b.lo AND p.pos < b.hi
        GROUP BY 1, 2),
      lastp AS (
        SELECT p.k2, CAST(p.t AS HUGEINT) AS sx, CAST(p.v AS HUGEINT) AS sy,
               CAST(1 AS HUGEINT) AS m
        FROM pts p JOIN n_t nt ON nt.k2 = p.k2 WHERE p.pos = nt.n - 1),
      anchor AS (
        SELECT k2, i - 1 AS i, CAST(sx AS HUGEINT) AS sx,
               CAST(sy AS HUGEINT) AS sy, CAST(m AS HUGEINT) AS m
        FROM bagg WHERE i >= 1
        UNION ALL
        SELECT k2, 19, sx, sy, m FROM lastp),
      prevdom AS (
        SELECT k2, 0 AS i, CAST(0 AS BIGINT) AS ppos FROM n_t
        UNION ALL
        SELECT b.k2, b.i + 1 AS i, p.pos AS ppos
        FROM b JOIN pts p ON p.k2 = b.k2 AND p.pos >= b.lo AND p.pos < b.hi
        WHERE b.i + 1 <= 19),
      scored AS (
        SELECT pd.k2, pd.i, pd.ppos, c.pos AS cpos, c.t AS ct, c.v AS cv,
               abs((a.m * CAST(pp.t AS HUGEINT) - a.sx)
                     * (CAST(c.v AS HUGEINT) - pp.v)
                   - (CAST(pp.t AS HUGEINT) - c.t)
                     * (a.sy - a.m * CAST(pp.v AS HUGEINT))) AS score
        FROM prevdom pd
        JOIN pts pp ON pp.k2 = pd.k2 AND pp.pos = pd.ppos
        JOIN b ON b.k2 = pd.k2 AND b.i = pd.i
        JOIN pts c ON c.k2 = pd.k2 AND c.pos >= b.lo AND c.pos < b.hi
        JOIN anchor a ON a.k2 = pd.k2 AND a.i = pd.i),
      trans AS (
        SELECT k2, i, ppos, cpos,
               row_number() OVER (PARTITION BY k2, i, ppos
                 ORDER BY score DESC, cpos ASC) AS rn
        FROM scored),
      walk AS (
        SELECT k2, CAST(-1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS pos
        FROM n_t
        UNION ALL
        SELECT w.k2, w.i + 1, t2.cpos
        FROM walk w JOIN trans t2 ON t2.k2 = w.k2 AND t2.i = w.i + 1
                                 AND t2.ppos = w.pos AND t2.rn = 1
        WHERE w.i + 1 <= 19),
      selpos AS (
        SELECT k2, pos FROM walk
        UNION
        SELECT nt.k2, nt.n - 1 FROM n_t nt)
      SELECT p.k2 AS event_type, p.t AS t_us, p.v AS v_cents
      FROM selpos s JOIN pts p ON p.k2 = s.k2 AND p.pos = s.pos
      ORDER BY event_type, t_us, v_cents""",
      build = (s, d) => {
      val ev = t(s, d, "events").select(col("event_type"),
        unix_micros(col("ts")).as("t_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
      graft.operators.Downsample.lttb(ev, "event_type", "t_us", "v_cents",
          buckets = 22)
        .orderBy("event_type", "t_us", "v_cents")
    }),

    // Column-level lineage from the analyzed plan — "which physical
    // columns can influence this output": a revenue-style join+aggregate
    // resolves through alias, arithmetic, join and aggregate down to the
    // scanned parquet columns. The oracle pins the expected dependency
    // set; any extraction regression (a dropped alias hop, a join side
    // mixed up) changes rows and fails the hash. Plan-sized driver work —
    // prices like EXPLAIN at any corpus size.
    // q_lineage: the dependency set is a plan-derived FACT the oracle
    // states — golden in form, falsifiable in substance (any extraction
    // bug changes the rows).
    Q("q_lineage", oracleSql = """
      SELECT * FROM (VALUES
        ('n_parts', 'lineitem', 'l_partkey'),
        ('o_custkey', 'orders', 'o_custkey'),
        ('revenue', 'lineitem', 'l_discount'),
        ('revenue', 'lineitem', 'l_extendedprice'))
        AS t(out_col, src_table, src_col)
      ORDER BY out_col, src_table, src_col""",
      build = (s, d) => {
      val li = t(s, d, "lineitem")
      val ord = t(s, d, "orders")
      val q = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          countDistinct(col("l_partkey")).as("n_parts"))
      graft.operators.Lineage.columnLineage(s, q)
        .orderBy("out_col", "src_table", "src_col")
    }),

    // Column masking policies: one physical table serves the analyst
    // (segment truncated to its initial, balance coarsened to $1000
    // bands) and the admin (raw) — masks are read-time projections, so
    // pruning and skipping on other columns are untouched. Policies set
    // through the SQL verbs; both role views hash-checked.
    // q_lake_mask: replay both role views — the analyst's mask
    // expressions applied verbatim, the admin's raw columns.
    Q("q_lake_mask", oracleSql = """
      WITH masked AS (
        SELECT c_custkey,
               substring(c_mktsegment, 1, 1) || '***' AS c_mktsegment,
               CAST((CAST(round(c_acctbal * 100) AS BIGINT) // 100000)
                 * 1000 AS DOUBLE) AS c_acctbal,
               'analyst' AS role
        FROM customer),
      raw AS (
        SELECT c_custkey, c_mktsegment, c_acctbal, 'admin' AS role
        FROM customer)
      SELECT * FROM (SELECT * FROM masked UNION ALL SELECT * FROM raw)
      ORDER BY role, c_custkey""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, Masking}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmask"))
      val cust = t(s, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      LakeTable.createTable(log, "cust", cust.schema)
      LakeTable.insert(s, log, "cust", cust)
      graft.api.LakeSql.execute(s, log, "ALTER TABLE cust SET MASK " +
        "c_mktsegment AS (concat(substring(c_mktsegment, 1, 1), '***')) " +
        "EXEMPT (admin)")
      graft.api.LakeSql.execute(s, log, "ALTER TABLE cust SET MASK " +
        "c_acctbal AS (CAST((CAST(round(c_acctbal * 100) AS BIGINT) " +
        "div 100000) * 1000 AS DOUBLE)) EXEMPT (admin)")
      def view(role: String) =
        Masking.readMasked(s, log, "cust", role)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
          .withColumn("role", lit(role))
      view("analyst").unionAll(view("admin"))
        .orderBy("role", "c_custkey")
    }),

    // Full conditional MERGE, first-clause-wins: matched orders with a
    // high source price DELETE, the rest UPDATE to the source row, and
    // unmatched source rows INSERT only above a floor — the Delta-style
    // ordered-WHEN DML over the lake's CoW machinery (stats-pruned
    // touched files, survivors as layout rewrites, one atomic commit).
    // The oracle replays the whole decision table over the base rows.
    // Logical views (graft.lake.Views): persisted SELECT macros in the
    // `_views/` OCC catalog mini-log, expanded at plan time — the third
    // leg beside the MV and the transparent rewrite. Stacked views
    // (cust_spend over big_orders), CREATE OR REPLACE re-pointing the
    // whole stack (macro semantics: the dependent reads the REPLACED
    // definition), and the final read through the SQL face. The oracle
    // replays the post-replace stack inline from raw orders.
    // q_lake_view: replay the POST-REPLACE view stack inline — the
    // dependent view must read the replaced base macro (> 100000).
    Q("q_lake_view", oracleSql = """
      SELECT o_custkey, count(*) AS n_big,
             round(sum(o_totalprice), 2) AS spend
      FROM orders WHERE o_totalprice > 100000
      GROUP BY o_custkey HAVING count(*) >= 2
      ORDER BY o_custkey""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable, Views}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftview"))
      val ord = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      LakeTable.createTable(log, "ord", ord.schema)
      LakeTable.insert(s, log, "ord", ord, numFiles = 2)
      def sql(q: String) = LakeSql.execute(s, log, q)
      sql("CREATE VIEW big_orders AS SELECT o_custkey, o_totalprice " +
        "FROM ord WHERE o_totalprice > 150000")
      sql("CREATE VIEW cust_spend AS SELECT o_custkey, " +
        "count(*) AS n_big, round(sum(o_totalprice), 2) AS spend " +
        "FROM big_orders GROUP BY o_custkey")
      // re-point the base view: the dependent must read the NEW macro
      sql("CREATE OR REPLACE VIEW big_orders AS SELECT o_custkey, " +
        "o_totalprice FROM ord WHERE o_totalprice > 100000")
      require(Views.catalogVersion(log) == 3L,
        "expected 3 view-catalog versions (create, create, replace)")
      sql("SELECT o_custkey, n_big, spend FROM cust_spend " +
        "WHERE n_big >= 2 ORDER BY o_custkey")
    }),
    // BEGIN TRANSACTION 'id'; INSERT...; INSERT...; COMMIT — the SQL
    // face over the presumed-abort 2PC (graft.lake.MultiTxn): a fact
    // slice and its aggregate land in DIFFERENT tables atomically; a
    // replayed block is a no-op returning the recorded versions; a
    // ROLLBACK block leaves no trace. The emitted aggregate is
    // recomputed by DuckDB from raw lineitem.
    // q_lake_sql_txn: the committed even-orderkey slice's aggregate,
    // with the co-committed fact recount riding beside it.
    Q("q_lake_sql_txn", oracleSql = """
      SELECT l_returnflag, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             count(*) AS n_check
      FROM lineitem WHERE l_orderkey % 2 = 0
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("grafttxn"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      LakeTable.createTable(log, "src", li.schema)
      LakeTable.insert(s, log, "src", li, numFiles = 2)
      def sql(q: String) = LakeSql.execute(s, log, q)
      sql("CREATE TABLE facts (l_orderkey int64, l_returnflag string, " +
        "l_quantity float64)")
      sql("CREATE TABLE agg (l_returnflag string, n_rows int64, " +
        "sum_qty float64)")
      val block = """BEGIN TRANSACTION 'load1';
        INSERT INTO facts SELECT l_orderkey, l_returnflag, l_quantity
          FROM src WHERE l_orderkey % 2 = 0;
        INSERT INTO agg SELECT l_returnflag, count(*) AS n_rows,
          sum(l_quantity) AS sum_qty FROM src WHERE l_orderkey % 2 = 0
          GROUP BY l_returnflag;
        COMMIT"""
      val st = sql(block).head()
      require(st.getAs[Boolean]("committed") &&
        st.getAs[String]("tables") == "agg@1,facts@1",
        s"unexpected txn result: $st")
      // replay is idempotent: recorded versions, no double insert
      val replay = sql(block).head()
      require(replay.getAs[String]("tables") == "agg@1,facts@1" &&
        log.latestVersion("facts") == 1L,
        "replayed COMMIT block must be a no-op")
      // a rolled-back txn leaves no trace on either table
      sql("""BEGIN TRANSACTION 'load2';
        INSERT INTO facts SELECT l_orderkey, l_returnflag, l_quantity
          FROM src WHERE l_orderkey % 2 = 1;
        ROLLBACK""")
      require(log.latestVersion("facts") == 1L &&
        log.latestVersion("agg") == 1L,
        "ROLLBACK must not publish")
      // the published aggregate must agree with a recount of the
      // co-committed fact slice — the cross-table consistency the 2PC
      // exists to give
      sql("SELECT a.l_returnflag, a.n_rows, round(a.sum_qty, 2) " +
        "AS sum_qty, f.n_check FROM agg a JOIN (SELECT l_returnflag, " +
        "count(*) AS n_check FROM facts GROUP BY l_returnflag) f " +
        "ON a.l_returnflag = f.l_returnflag ORDER BY a.l_returnflag")
    }),

    // q_lake_merge: the full decision table — matched+high-price rows
    // vanish, matched rows take the source values, unmatched source
    // rows insert above the floor, everything else survives untouched.
    Q("q_lake_merge", oracleSql = """
      WITH src AS (
        SELECT o_orderkey, 'M' AS o_orderstatus,
               o_totalprice + 1000 AS o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey + 100000000 AS o_orderkey,
               'N' AS o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 5 = 0),
      final_t AS (
        SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice
        FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        WHERE s.o_orderkey IS NULL
        UNION ALL
        SELECT t.o_orderkey, s.o_orderstatus, s.o_totalprice
        FROM orders t JOIN src s ON t.o_orderkey = s.o_orderkey
        WHERE NOT (s.o_totalprice > 150000)
        UNION ALL
        SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
        FROM src s LEFT JOIN orders t ON t.o_orderkey = s.o_orderkey
        WHERE t.o_orderkey IS NULL AND s.o_totalprice > 50000)
      SELECT o_orderkey, o_orderstatus,
             round(o_totalprice, 2) AS o_totalprice
      FROM final_t ORDER BY o_orderkey""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmrg"))
      val ord = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      LakeTable.createTable(log, "ord", ord.schema)
      LakeTable.insert(s, log, "ord", ord, numFiles = 4)
      val src = ord.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("M").as("o_orderstatus"),
          (col("o_totalprice") + 1000).as("o_totalprice"))
        .unionAll(ord.filter(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice")))
      val r = LakeTable.merge(s, log, "ord", src, "o_orderkey",
        matched = Seq(
          LakeTable.MergeClause("delete", Some("src_o_totalprice > 150000")),
          LakeTable.MergeClause("update")),
        insertWhen = Some(Some("o_totalprice > 50000")))
      require(r.updated > 0 && r.deleted > 0 && r.inserted > 0,
        s"merge exercised a degenerate path: $r")
      LakeTable.read(s, log, "ord")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Row-level security + the combined governed read: the analyst sees
    // only non-negative balances (row filter, judged on RAW values) with
    // the segment masked (column policy); the auditor is row-filter
    // exempt but still masked; the admin reads raw. All three role
    // views hash-checked — policies installed through the SQL verbs,
    // read through the one governed face the REST layer serves.
    // q_lake_rowfilter: analyst = row filter + mask; auditor =
    // filter-exempt but masked; admin = raw. The oracle replays all
    // three governed views over the base rows.
    Q("q_lake_rowfilter", oracleSql = """
      WITH analyst AS (
        SELECT c_custkey,
               substring(c_mktsegment, 1, 1) || '***' AS c_mktsegment,
               c_acctbal, 'analyst' AS role
        FROM customer WHERE c_acctbal >= 0),
      auditor AS (
        SELECT c_custkey,
               substring(c_mktsegment, 1, 1) || '***' AS c_mktsegment,
               c_acctbal, 'auditor' AS role
        FROM customer),
      admin AS (
        SELECT c_custkey, c_mktsegment, c_acctbal, 'admin' AS role
        FROM customer)
      SELECT * FROM (SELECT * FROM analyst UNION ALL
                     SELECT * FROM auditor UNION ALL SELECT * FROM admin)
      ORDER BY role, c_custkey""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, RowFilter}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftrls"))
      val cust = t(s, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      LakeTable.createTable(log, "cust", cust.schema)
      LakeTable.insert(s, log, "cust", cust)
      graft.api.LakeSql.execute(s, log, "ALTER TABLE cust SET ROW FILTER " +
        "(c_acctbal >= 0) EXEMPT (auditor, admin)")
      graft.api.LakeSql.execute(s, log, "ALTER TABLE cust SET MASK " +
        "c_mktsegment AS (concat(substring(c_mktsegment, 1, 1), '***')) " +
        "EXEMPT (admin)")
      def view(role: String) =
        RowFilter.readGoverned(s, log, "cust", role)
          .withColumn("role", lit(role))
      view("analyst").unionAll(view("auditor")).unionAll(view("admin"))
        .orderBy("role", "c_custkey")
    }),

    // Snapshot-keyed result cache lifecycle: identical SELECT → hit with
    // the SAME rows; any commit changes the fingerprint → miss with the
    // new data. The hit/miss flags are computed from the REAL cache and
    // hash-checked (a stale-serving cache would ship phase-3 rows equal
    // to phase 1's and fail the oracle).
    // q_result_cache: phase 1 = the even-orderkey half (miss), phase 2 =
    // the identical cached rows (hit), phase 3 = the whole table after
    // the invalidating commit (miss).
    Q("q_result_cache", oracleSql = """
      WITH half AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               round(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
      full_t AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               round(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY 1)
      SELECT * FROM (
        SELECT 1 AS phase, 0 AS hit, * FROM half
        UNION ALL SELECT 2 AS phase, 1 AS hit, * FROM half
        UNION ALL SELECT 3 AS phase, 0 AS hit, * FROM full_t)
      ORDER BY phase, l_returnflag""",
      build = (s, d) => {
      import s.implicits._
      import graft.api.ResultCache
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftrc"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      LakeTable.createTable(log, "li5", li.schema)
      LakeTable.insert(s, log, "li5", li.filter(col("l_orderkey") % 2 === 0))
      val cache = new ResultCache[Array[org.apache.spark.sql.Row]]()
      val sqlTxt = "SELECT l_returnflag, count(*) AS n, " +
        "round(sum(l_quantity), 2) AS sum_qty FROM li5 GROUP BY 1"
      def run() = cache.getOrCompute(sqlTxt, cache.fingerprint(log))(
        graft.api.SqlApi.queryLake(s, log, sqlTxt).collect())
      val (r1, h1) = run()
      val (r2, h2) = run()
      require(!h1 && h2, "second identical read must serve from cache")
      require(r2 eq r1, "a hit returns the cached rows, not a recompute")
      LakeTable.insert(s, log, "li5", li.filter(col("l_orderkey") % 2 === 1))
      val (r3, h3) = run()
      require(!h3, "a commit must invalidate the fingerprint")
      def phaseDf(phase: Int, hit: Boolean,
                  rows: Array[org.apache.spark.sql.Row]) =
        rows.toSeq.map(r => (phase, if (hit) 1 else 0,
            r.getString(0), r.getLong(1), r.getDouble(2)))
          .toDF("phase", "hit", "l_returnflag", "n", "sum_qty")
      phaseDf(1, h1, r1).unionAll(phaseDf(2, h2, r2))
        .unionAll(phaseDf(3, h3, r3))
        .orderBy("phase", "l_returnflag")
    }),

    // The MV lifecycle through the SQL face alone: CREATE MATERIALIZED
    // VIEW persists the definition beside the MV table, REFRESH by name
    // folds each appended slice (incremental after the first build),
    // and the final MV contents hash-check against the plain aggregate
    // over everything inserted.
    // q_lake_mv_sql: both halves of lineitem fold in → the MV must equal
    // the aggregate over the whole table.
    Q("q_lake_mv_sql", oracleSql = """
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
             round(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      import graft.api.LakeSql
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvs"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      LakeTable.createTable(log, "li3", li.schema)
      LakeTable.insert(s, log, "li3",
        li.filter(col("l_orderkey") % 2 === 0), txnId = "half-0")
      LakeSql.execute(s, log, "CREATE MATERIALIZED VIEW li3_mv ON li3 " +
        "KEY l_returnflag SUM (l_quantity)")
      val r1 = LakeSql.execute(s, log,
        "REFRESH MATERIALIZED VIEW li3_mv").collect().head
      require(r1.getAs[String]("mode") == "incremental", "first fold")
      LakeTable.insert(s, log, "li3",
        li.filter(col("l_orderkey") % 2 === 1), txnId = "half-1")
      val r2 = LakeSql.execute(s, log,
        "REFRESH MATERIALIZED VIEW li3_mv").collect().head
      require(r2.getAs[String]("mode") == "incremental", "second fold")
      LakeTable.read(s, log, "li3_mv")
        .select(col("l_returnflag"), col("n_rows"),
          round(col("sum_l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Transparent MV answering: the caller writes the naive aggregate
    // over the BASE table; the injected Catalyst optimizer rule
    // (MvRewriteRule via spark.experimental.extraOptimizations) swaps in
    // the materialized view's O(groups) scan — verified in-query by
    // asserting the optimized plan's only file scan IS the MV table
    // before materializing. Freshness-gated: a stale MV never answers
    // (MvRewriteSpec pins that plus every disqualifier). The oracle is
    // the plain aggregate — the rewrite must be result-identical.
    // q_lake_mv_rewrite: the rewrite must be result-identical to the
    // naive aggregate, so the oracle IS the naive aggregate.
    Q("q_lake_mv_rewrite", oracleSql = """
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
             round(SUM(l_quantity), 2) AS sum_qty,
             round(MIN(l_extendedprice), 2) AS min_price,
             round(MAX(l_extendedprice), 2) AS max_price
      FROM lineitem GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.lake.{LakeFileIndex, LakeLog, LakeTable,
        MaterializedView, MvRewrite}
      import org.apache.spark.sql.execution.datasources.{
        HadoopFsRelation, LogicalRelation}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvr"))
      val li = t(s, d, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      val mv = MaterializedView.MvDef("li_mv", "li", "l_returnflag",
        sumCols = Seq("l_quantity"), minCols = Seq("l_extendedprice"),
        maxCols = Seq("l_extendedprice"))
      MaterializedView.create(log, mv)
      MaterializedView.refresh(s, log, mv)
      MvRewrite.register(s, log, Seq(mv))
      try {
        val q = LakeTable.readIndexed(s, log, "li")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum("l_quantity").as("sum_qty"),
            min("l_extendedprice").as("min_price"),
            max("l_extendedprice").as("max_price"))
        val scanned = q.queryExecution.optimizedPlan.collectLeaves()
          .flatMap {
            case lr: LogicalRelation => lr.relation match {
              case h: HadoopFsRelation => h.location match {
                case i: LakeFileIndex => Some(i.tableName)
                case _ => None
              }
              case _ => None
            }
            case _ => None
          }
        require(scanned == Seq("li_mv"),
          s"MV rewrite did not fire (scanned: ${scanned.mkString(",")})")
        // localCheckpoint materializes WHILE the rule is registered —
        // the hash-checked rows really come off the MV scan
        q.select(col("l_returnflag"), col("n_rows"),
            round(col("sum_qty"), 2).as("sum_qty"),
            round(col("min_price"), 2).as("min_price"),
            round(col("max_price"), 2).as("max_price"))
          .orderBy("l_returnflag")
          .localCheckpoint()
      } finally MvRewrite.clear(s)
    }),

    // MV rewrite, extended provable envelope #1: avg(c) answered as
    // stored sum_c / n_rows. l_quantity is integer-valued, so the double
    // sum is EXACT in IEEE regardless of accumulation order and the
    // final division is bit-identical in Spark's Average, the MV's
    // Divide(sum, n) and DuckDB's AVG — no rounding needed. The in-query
    // require pins the optimized plan's only scan to the MV table.
    // q_lake_mv_rewrite_avg: avg over integer-valued l_quantity — the
    // double sum is exact, so sum/count is bit-identical across Spark's
    // Average, the MV's Divide(sum_c, n_rows) and DuckDB's AVG.
    Q("q_lake_mv_rewrite_avg", oracleSql = """
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
             AVG(l_quantity) AS avg_qty,
             SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, MaterializedView, MvRewrite}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmva"))
      val li = t(s, d, "lineitem").select("l_returnflag", "l_quantity")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      val mv = MaterializedView.MvDef("li_avg_mv", "li", "l_returnflag",
        sumCols = Seq("l_quantity"))
      MaterializedView.create(log, mv)
      MaterializedView.refresh(s, log, mv)
      MvRewrite.register(s, log, Seq(mv))
      try {
        val q = LakeTable.readIndexed(s, log, "li")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            avg("l_quantity").as("avg_qty"),
            sum("l_quantity").as("sum_qty"))
        val scanned = lakeScans(q)
        require(scanned == Seq("li_avg_mv"),
          s"MV avg rewrite did not fire (scanned: ${scanned.mkString(",")})")
        q.orderBy("l_returnflag").localCheckpoint()
      } finally MvRewrite.clear(s)
    }),

    // MV rewrite, extended provable envelope #2: COMPOSITE group key
    // (l_returnflag, l_linestatus) plus a KEY-ONLY filter — a predicate
    // over group-key columns partitions whole groups, so it commutes
    // with the aggregation and re-anchors onto the MV's stored key
    // columns as a filtered MV scan. The require pins the plan to the
    // MV; the oracle replays filter + aggregate over the base rows.
    // q_lake_mv_rewrite_filter: key-only filter + composite group key —
    // the rewrite must equal the naive filtered aggregate.
    Q("q_lake_mv_rewrite_filter", oracleSql = """
      SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(l_quantity) AS sum_qty
      FROM lineitem WHERE l_returnflag <> 'N'
      GROUP BY 1, 2 ORDER BY 1, 2""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, MaterializedView, MvRewrite}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvf"))
      val li = t(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      val mv = MaterializedView.MvDef("li_fs_mv", "li", "l_returnflag",
        sumCols = Seq("l_quantity"), extraKeyCols = Seq("l_linestatus"))
      MaterializedView.create(log, mv)
      MaterializedView.refresh(s, log, mv)
      MvRewrite.register(s, log, Seq(mv))
      try {
        val q = LakeTable.readIndexed(s, log, "li")
          .filter(col("l_returnflag") =!= "N")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"),
            sum("l_quantity").as("sum_qty"))
        val scanned = lakeScans(q)
        require(scanned == Seq("li_fs_mv"),
          s"filtered composite-key MV rewrite did not fire " +
            s"(scanned: ${scanned.mkString(",")})")
        q.orderBy("l_returnflag", "l_linestatus").localCheckpoint()
      } finally MvRewrite.clear(s)
    }),

    // MV rewrite, extended provable envelope #3: ROLLUP — GROUP BY a
    // strict subset of the MV's composite key answers by re-aggregating
    // the MV (sum of sums, sum of counts, total-sum/total-count avg):
    // O(|MV rows|) instead of O(corpus), the dashboard-hierarchy query
    // every warehouse MV router handles. Integer-valued l_quantity
    // keeps every derived number exact cross-engine.
    // q_lake_mv_rewrite_rollup: GROUP BY a subset of the MV key — the
    // re-aggregated MV must equal the naive aggregate over the base.
    Q("q_lake_mv_rewrite_rollup", oracleSql = """
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(l_quantity) AS sum_qty,
             AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, MaterializedView, MvRewrite}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvu"))
      val li = t(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 4)
      val mv = MaterializedView.MvDef("li_ru_mv", "li", "l_returnflag",
        sumCols = Seq("l_quantity"), extraKeyCols = Seq("l_linestatus"))
      MaterializedView.create(log, mv)
      MaterializedView.refresh(s, log, mv)
      MvRewrite.register(s, log, Seq(mv))
      try {
        val q = LakeTable.readIndexed(s, log, "li")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum("l_quantity").as("sum_qty"),
            avg("l_quantity").as("avg_qty"))
        val scanned = lakeScans(q)
        require(scanned == Seq("li_ru_mv"),
          s"rollup MV rewrite did not fire (scanned: ${scanned.mkString(",")})")
        q.orderBy("l_returnflag").localCheckpoint()
      } finally MvRewrite.clear(s)
    }),

    // MV rewrite, extended provable envelope #4: the JOIN shape. The
    // naive star aggregate (fact ⋈ dim grouped by the dim attribute) is
    // answered from the join MV when the MV is fresh on BOTH tables —
    // fact high-water AND folded dim version equal the scanned latest
    // versions, the join is exactly the MV's inner equi-join on joinOn,
    // and the MV read pins to the refresh commit that folded that
    // (factV, dimV) pair. The in-query require pins the optimized plan
    // to the MV table alone (neither fact nor dim is scanned); the
    // oracle replays join + group over the raw rows. At 100 TB this is
    // the difference between a fact-corpus shuffle-join per dashboard
    // query and an O(groups) MV scan.
    // q_lake_mv_rewrite_join: the naive star aggregate the rewrite rule
    // must answer from the join MV alone (the in-query require pins the
    // plan); DuckDB replays join + group over the raw rows
    Q("q_lake_mv_rewrite_join", oracleSql = """
      SELECT o_orderpriority AS priority, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.api.LakeSql
      import graft.lake.{LakeLog, LakeTable, MaterializedView, MvRewrite}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvrj"))
      val fact = t(s, d, "lineitem").select(
        col("l_orderkey").as("orderkey"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"))
      val dim = t(s, d, "orders").select(
        col("o_orderkey").as("orderkey"),
        col("o_orderpriority").as("priority"))
      LakeTable.createTable(log, "fact", fact.schema)
      LakeTable.createTable(log, "dim", dim.schema)
      // different tables (per-table commit locks): load dim and fact
      // concurrently
      LakeTable.inParallel(Seq(
        () => { LakeTable.insert(s, log, "dim", dim,
          txnId = "dim-load"); () },
        () => { LakeTable.insert(s, log, "fact", fact, txnId = "fact-load",
          numFiles = 4); () }))
      LakeSql.execute(s, log, "CREATE MATERIALIZED VIEW rev_mv ON " +
        "fact JOIN dim ON orderkey KEY priority SUM (qty, price)")
      val mv = MaterializedView.loadDef(log, "rev_mv").get
      MaterializedView.refresh(s, log, mv)
      MvRewrite.register(s, log, Seq(mv))
      try {
        val q = LakeTable.readIndexed(s, log, "fact")
          .join(LakeTable.readIndexed(s, log, "dim"),
            Seq("orderkey"), "inner")
          .groupBy("priority")
          .agg(count(lit(1)).as("n_rows"),
            sum("qty").as("sum_qty0"),
            sum("price").as("sum_price0"))
        val scanned = lakeScans(q)
        require(scanned == Seq("rev_mv"),
          s"join MV rewrite did not fire (scanned: ${scanned.mkString(",")})")
        // hash-stable faces: integer-valued qty sums are exact; money
        // sums are safe at 2 decimals (the q_lake_mv_join discipline)
        q.select(col("priority"), col("n_rows"),
            round(col("sum_qty0"), 2).as("sum_qty"),
            round(col("sum_price0"), 2).as("sum_price"))
          .orderBy("priority")
          .localCheckpoint()
      } finally MvRewrite.clear(s)
    }),

    // MV rewrite, extended provable envelope #5: the JOIN shape COMPOSED
    // with the single-table rule's key-only-filter proof — a predicate
    // over the join MV's key columns partitions whole joined-row groups,
    // so it commutes with the grouping and re-anchors onto the MV's
    // stored keys as a filtered MV scan. The filter sits naturally above
    // the join in user code; Catalyst pushes it to the dim side and the
    // envelope walker collects it from either position.
    // q_lake_mv_rewrite_join_filter: join shape × key-only filter — the
    // filtered rewrite must equal the naive filtered star aggregate
    Q("q_lake_mv_rewrite_join_filter", oracleSql = """
      SELECT o_orderpriority AS priority, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority <> '1-URGENT'
      GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, MaterializedView, MvRewrite}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvjf"))
      val fact = t(s, d, "lineitem").select(
        col("l_orderkey").as("orderkey"),
        col("l_quantity").as("qty"))
      val dim = t(s, d, "orders").select(
        col("o_orderkey").as("orderkey"),
        col("o_orderpriority").as("priority"))
      LakeTable.createTable(log, "fact", fact.schema)
      LakeTable.createTable(log, "dim", dim.schema)
      // different tables (per-table commit locks): load dim and fact
      // concurrently
      LakeTable.inParallel(Seq(
        () => { LakeTable.insert(s, log, "dim", dim,
          txnId = "dim-load"); () },
        () => { LakeTable.insert(s, log, "fact", fact, txnId = "fact-load",
          numFiles = 4); () }))
      val mv = MaterializedView.MvDef("revf_mv", "fact", "priority",
        sumCols = Seq("qty"), joinTable = Some("dim"),
        joinOn = Some("orderkey"))
      MaterializedView.create(log, mv)
      MaterializedView.refresh(s, log, mv)
      MvRewrite.register(s, log, Seq(mv))
      try {
        val q = LakeTable.readIndexed(s, log, "fact")
          .join(LakeTable.readIndexed(s, log, "dim"),
            Seq("orderkey"), "inner")
          .filter(col("priority") =!= "1-URGENT")
          .groupBy("priority")
          .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty0"))
        val scanned = lakeScans(q)
        require(scanned == Seq("revf_mv"),
          s"filtered join-MV rewrite did not fire " +
            s"(scanned: ${scanned.mkString(",")})")
        q.select(col("priority"), col("n_rows"),
            round(col("sum_qty0"), 2).as("sum_qty"))
          .orderBy("priority")
          .localCheckpoint()
      } finally MvRewrite.clear(s)
    }),

    // MV rewrite, extended provable envelope #6: JOIN shape × ROLLUP —
    // GROUP BY a strict subset of a COMPOSITE join-MV key answers by
    // re-aggregating the MV (sum of sums, sum of counts, total-sum/
    // total-count avg), exactly the single-table rollup proof lifted
    // onto joined rows: O(|MV rows|) instead of a fact ⋈ dim shuffle.
    // q_lake_mv_rewrite_join_rollup: join shape × rollup — GROUP BY a
    // strict subset of the composite join-MV key, re-aggregated from
    // the MV; integer-valued l_quantity keeps sum/avg exact
    Q("q_lake_mv_rewrite_join_rollup", oracleSql = """
      SELECT o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n_rows,
             sum(l_quantity) AS sum_qty,
             avg(l_quantity) AS avg_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable, MaterializedView, MvRewrite}
      val log = new LakeLog(
        java.nio.file.Files.createTempDirectory("graftmvjr"))
      val fact = t(s, d, "lineitem").select(
        col("l_orderkey").as("orderkey"),
        col("l_quantity").as("qty"))
      val dim = t(s, d, "orders").select(
        col("o_orderkey").as("orderkey"),
        col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"))
      LakeTable.createTable(log, "fact", fact.schema)
      LakeTable.createTable(log, "dim", dim.schema)
      // different tables (per-table commit locks): load dim and fact
      // concurrently
      LakeTable.inParallel(Seq(
        () => { LakeTable.insert(s, log, "dim", dim,
          txnId = "dim-load"); () },
        () => { LakeTable.insert(s, log, "fact", fact, txnId = "fact-load",
          numFiles = 4); () }))
      val mv = MaterializedView.MvDef("revr_mv", "fact", "priority",
        sumCols = Seq("qty"), extraKeyCols = Seq("status"),
        joinTable = Some("dim"), joinOn = Some("orderkey"))
      MaterializedView.create(log, mv)
      MaterializedView.refresh(s, log, mv)
      MvRewrite.register(s, log, Seq(mv))
      try {
        // qty is integer-valued, so sum/avg stay exact cross-engine
        val q = LakeTable.readIndexed(s, log, "fact")
          .join(LakeTable.readIndexed(s, log, "dim"),
            Seq("orderkey"), "inner")
          .groupBy("priority")
          .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
            avg("qty").as("avg_qty"))
        val scanned = lakeScans(q)
        require(scanned == Seq("revr_mv"),
          s"join-MV rollup rewrite did not fire " +
            s"(scanned: ${scanned.mkString(",")})")
        q.orderBy("priority").localCheckpoint()
      } finally MvRewrite.clear(s)
    }),

    Q("q_lake_zorder", oracleSql = """
      SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_orderkey < 100 AND l_partkey < 200""",
      build = (s, d) => {
      // z-order-clustered insert: multi-dimensional clustering gives BOTH
      // curve columns tight per-file ranges, so this two-column range
      // query reads a fraction of the files (LakeTableSpec pins the
      // pruning; here the RESULT is hash-checked against plain SQL)
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftzo"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 16,
        zOrderBy = Seq("l_orderkey", "l_partkey"))
      LakeTable.readIndexed(s, log, "li")
        .filter(col("l_orderkey") < 100 && col("l_partkey") < 200)
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
    }),

    Q("q_lake_hilbert", oracleSql = """
      SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem
      WHERE l_orderkey BETWEEN 100 AND 600
        AND l_partkey BETWEEN 50 AND 400""",
      build = (s, d) => {
      // Hilbert-clustered insert: the same write path as z-order but the
      // curve value is the native codegen'd HilbertIndex2D — no diagonal
      // jumps, so per-file bounding boxes are tighter and a 2-D box query
      // reads fewer files (HilbertSpec pins hilbert <= morton across a
      // box sweep; here the RESULT is hash-checked against plain SQL)
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("grafthb"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema)
      LakeTable.insert(s, log, "li", li, numFiles = 16,
        zOrderBy = Seq("l_orderkey", "l_partkey"), curve = "hilbert")
      LakeTable.readIndexed(s, log, "li")
        .filter(col("l_orderkey").between(100, 600) &&
          col("l_partkey").between(50, 400))
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
    }),

    Q("q_lake_partitioned", oracleSql = """
      SELECT l_returnflag, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem WHERE l_returnflag <> 'R'
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      // hive-style partitioned table: partition values live in the log only
      // (flat data files), a partition-predicate DELETE touches no data
      // files, and the partition-pruned Catalyst read reconstructs the
      // partition column — hash-checked against plain SQL over the source
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftpart"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema,
        partitionBy = Seq("l_returnflag"))
      LakeTable.insert(s, log, "li", li)
      LakeTable.deleteWhere(s, log, "li", "l_returnflag = R")
      LakeTable.readIndexed(s, log, "li")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Atomic predicate-scoped overwrite (replaceWhere): the partition-
    // backfill idiom — recompute the A slice (even orderkeys, doubled
    // quantity), swap it in ONE commit, leave every other partition's
    // files untouched (both pinned by in-query requires). DuckDB
    // recomputes the final state from the raw source.
    Q("q_lake_replace", oracleSql = """
      SELECT l_returnflag, count(*) AS n_rows,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM (
        SELECT l_returnflag, l_quantity, l_extendedprice
        FROM lineitem WHERE l_returnflag <> 'A'
        UNION ALL
        SELECT l_returnflag, l_quantity * 2 AS l_quantity, l_extendedprice
        FROM lineitem WHERE l_returnflag = 'A' AND l_orderkey % 2 = 0)
      GROUP BY l_returnflag ORDER BY l_returnflag""",
      build = (s, d) => {
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftrw"))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      LakeTable.createTable(log, "li", li.schema,
        partitionBy = Seq("l_returnflag"))
      LakeTable.insert(s, log, "li", li)
      val pre = log.snapshot("li")
      val backfill = li
        .filter(col("l_returnflag") === "A" && col("l_orderkey") % 2 === 0)
        .withColumn("l_quantity", col("l_quantity") * 2)
      val r = LakeTable.replaceWhere(s, log, "li", "l_returnflag = A",
        backfill)
      require(r.version == pre.version + 1,
        "replaceWhere must be exactly one commit")
      val untouched = pre.files
        .filter(_.partition("l_returnflag") != "A").map(_.path).toSet
      require(log.snapshot("li").files
        .filter(_.partition("l_returnflag") != "A").map(_.path).toSet ==
        untouched, "replaceWhere rewrote files outside the region")
      LakeTable.readIndexed(s, log, "li")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    Q("q_lake_bloom", oracleSql = """
      SELECT o_orderkey, o_custkey, o_orderstatus,
             round(o_totalprice, 2) AS price
      FROM orders
      WHERE o_orderkey IN (1, 7, 32, 133, 322, 4000)
      ORDER BY o_orderkey""",
      build = (s, d) => {
      // Bloom data skipping: orders land in 8 files clustered by STATUS, so
      // every file's o_orderkey min/max range spans the whole key domain —
      // range stats prune NOTHING for key point lookups; the per-file
      // blooms prune every file the key can't be in. Results are pruning-
      // transparent (DuckDB recomputes the same lookups over the raw
      // table); the pruned-file counts are pinned in BloomSkipSpec.
      import graft.lake.{LakeLog, LakeTable}
      val log = new LakeLog(java.nio.file.Files.createTempDirectory("graftbloom"))
      val ord = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      LakeTable.createTable(log, "ord", ord.schema)
      LakeTable.insert(s, log, "ord", ord, numFiles = 8,
        clusterBy = Seq("o_orderstatus"), bloomCols = Seq("o_orderkey"))
      LakeTable.readIndexed(s, log, "ord")
        .filter(col("o_orderkey").isin(1L, 7L, 32L, 133L, 322L, 4000L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    }),
  )
}
