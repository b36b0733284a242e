package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.QueryEngine
import graft.api.LakeSql

/** Column mapping (RENAME / DROP COLUMN as metadata-only commits):
  * physical names are immutable in data files, logical names live in the
  * schema, and every read/write/prune path translates at the boundary.
  */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (LakeLog, String) = {
    val log = new LakeLog(tmpDir("cmap"))
    val df = (1 to 100).map(i =>
      (i.toLong, i.toDouble, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "price", "cat")
    LakeTable.createTable(log, "t", df.schema)
    LakeTable.insert(spark, log, "t", df, numFiles = 4, zOrderBy = Seq("id"))
    (log, "t")
  }

  test("rename is metadata-only; values survive across old and new files") {
    val (log, t) = fresh()
    val pre = log.snapshot(t).files.map(_.path).toSet
    LakeSql.execute(spark, log, s"ALTER TABLE $t RENAME COLUMN price TO amount")
    assert(log.snapshot(t).files.map(_.path).toSet == pre)
    // a write AFTER the rename (logical name 'amount') lands under the
    // SAME physical name, so one scan covers both file generations
    LakeTable.insert(spark, log, t,
      Seq((101L, 101.0, "odd")).toDF("id", "amount", "cat"))
    val got = LakeTable.read(spark, log, t)
    assert(got.columns.toSeq == Seq("id", "amount", "cat"))
    assert(got.agg(sum("amount")).head.getDouble(0) ==
      (1 to 101).map(_.toDouble).sum)
    // the physical name in the schema is the original
    assert(log.snapshot(t).schema.get.physFor("amount") == "price")
  }

  test("time travel reads each version with its own logical names") {
    val (log, t) = fresh()
    val v1 = log.latestVersion(t)
    LakeSql.execute(spark, log, s"ALTER TABLE $t RENAME COLUMN price TO amount")
    assert(LakeTable.read(spark, log, t, version = v1)
      .columns.contains("price"))
    assert(LakeTable.read(spark, log, t).columns.contains("amount"))
  }

  test("drop then re-add the same name must NOT resurrect stale values") {
    val (log, t) = fresh()
    LakeSql.execute(spark, log, s"ALTER TABLE $t DROP COLUMN price")
    assert(!LakeTable.read(spark, log, t).columns.contains("price"))
    // re-add a column with the dropped name: old files still hold the old
    // 'price' bytes, so the new field must map to a FRESH physical name
    LakeSql.execute(spark, log, s"ALTER TABLE $t ADD COLUMN price float64")
    val sch = log.snapshot(t).schema.get
    assert(sch.physFor("price") != "price",
      s"re-added column reuses retired physical name ${sch.physFor("price")}")
    val vals = LakeTable.read(spark, log, t).select("price").collect()
    assert(vals.forall(_.isNullAt(0)),
      "re-added column read stale values from pre-drop files")
  }

  test("rename a -> b -> a round-trips onto the original physical name") {
    val (log, t) = fresh()
    LakeSql.execute(spark, log, s"ALTER TABLE $t RENAME COLUMN price TO b")
    LakeSql.execute(spark, log, s"ALTER TABLE $t RENAME COLUMN b TO price")
    val sch = log.snapshot(t).schema.get
    assert(sch.physFor("price") == "price" && !sch.hasMapping)
    assert(LakeTable.read(spark, log, t).agg(sum("price")).head.getDouble(0)
      == (1 to 100).map(_.toDouble).sum)
  }

  test("guards: duplicate target, partition column, CHECK reference, last column") {
    val (log, t) = fresh()
    intercept[LakeValidationException] {
      log.renameColumn(t, "price", "cat", "g1")
    }
    intercept[LakeValidationException] { log.dropColumn(t, "nope", "g2") }
    val log2 = new LakeLog(tmpDir("cmapg"))
    val df = Seq((1L, "a", 2.0)).toDF("id", "part", "v")
    LakeTable.createTable(log2, "p", df.schema, partitionBy = Seq("part"),
      constraints = Map("v_pos" -> "v > 0"))
    LakeTable.insert(spark, log2, "p", df)
    intercept[LakeValidationException] {
      log2.renameColumn("p", "part", "region", "g3")
    }
    intercept[LakeValidationException] { log2.dropColumn("p", "v", "g4") }
    // after the spec drop, live files still key their maps by `part`
    log2.alterPartitioning("p", Nil, "g6")
    intercept[LakeValidationException] {
      log2.renameColumn("p", "part", "region", "g7")
    }
    intercept[LakeValidationException] { log2.dropColumn("p", "part", "g8") }
    assert(LakeTable.read(spark, log2, "p").select("part").as[String]
      .collect().toSeq == Seq("a"))
    val log3 = new LakeLog(tmpDir("cmapo"))
    LakeTable.createTable(log3, "one", Seq((1L)).toDF("x").schema)
    LakeTable.insert(spark, log3, "one", Seq((1L)).toDF("x"))
    intercept[LakeValidationException] { log3.dropColumn("one", "x", "g5") }
  }

  test("DML through a renamed column: update, delete, upsert, compaction") {
    val (log, t) = fresh()
    LakeSql.execute(spark, log, s"ALTER TABLE $t RENAME COLUMN price TO amount")
    // UPDATE with predicate AND set on the renamed column
    val ur = LakeTable.updateWhere(spark, log, t, "amount > 98",
      Seq("amount" -> "amount + 1000"))
    assert(ur.rowsUpdated == 2 && ur.filesUntouched > 0)
    // COW delete on the renamed column (stat-pruned)
    val dr = LakeTable.deleteWhere(spark, log, t, "amount > 1000")
    assert(dr.rowsDeleted == 2 && dr.filesUntouched > 0)
    assert(LakeTable.read(spark, log, t).count() == 98)
    // MOR delete too
    val mr = LakeTable.deleteWhereMor(spark, log, t, "amount <= 2")
    assert(mr.rowsDeleted == 2)
    assert(LakeTable.read(spark, log, t).count() == 96)
    // upsert keyed on an untouched column still reads/writes mapped files
    LakeTable.upsert(spark, log, t,
      Seq((50L, 5000.0, "upd")).toDF("id", "amount", "cat"), "id")
    val r50 = LakeTable.read(spark, log, t).filter(col("id") === 50).head
    assert(r50.getDouble(1) == 5000.0 && r50.getString(2) == "upd")
    // compaction rewrites preserve the physical mapping
    LakeTable.compact(spark, log, t, force = true)
    assert(LakeTable.read(spark, log, t).count() == 96)
    // survivors are ids 3..98 with amount = id, except id 50 upserted to
    // 5000: Σ(3..98) − 50 + 5000
    assert(LakeTable.read(spark, log, t)
      .agg(sum("amount")).head.getDouble(0) ==
      ((3 to 98).map(_.toDouble).sum - 50.0 + 5000.0))
  }

  test("stats pruning, metadata aggregates and blooms follow the rename") {
    val log = new LakeLog(tmpDir("cmapb"))
    val df = (1 to 200).map(i => (i.toLong, s"k$i")).toDF("id", "key")
    LakeTable.createTable(log, "b", df.schema,
      bloomFilterCols = Seq("key"))
    LakeTable.insert(spark, log, "b", df, numFiles = 4, zOrderBy = Seq("id"))
    LakeSql.execute(spark, log, "ALTER TABLE b RENAME COLUMN id TO doc")
    LakeSql.execute(spark, log, "ALTER TABLE b RENAME COLUMN key TO term")
    assert(log.snapshot("b").schema.get.bloomCols == Seq("term"))
    // 3-token stat pruning through the renamed name
    val got = LakeTable.readIndexed(spark, log, "b")
      .filter(QueryEngine.parsePredicate("doc <= 10"))
    assert(got.count() == 10)
    // metadata-only aggregate resolves renamed columns against the
    // physical stats keys
    val agg = StatsAgg.fromStats(spark, log.snapshot("b"), Seq("doc")).get
      .head
    assert(agg.getLong(0) == 200L && agg.getLong(1) == 200L &&
      agg.getLong(2) == 1L && agg.getLong(3) == 200L)
    // bloom sidecars (built pre-rename under the physical name) still
    // serve point probes on the new logical name via readIndexed
    val probe = LakeTable.readIndexed(spark, log, "b")
      .filter(col("term") === "k123")
    assert(probe.count() == 1)
  }

  test("CDC and diff read mapped files with current logical names") {
    val (log, t) = fresh()
    val v1 = log.latestVersion(t)
    LakeSql.execute(spark, log, s"ALTER TABLE $t RENAME COLUMN price TO amount")
    LakeTable.insert(spark, log, t,
      Seq((101L, 101.0, "odd")).toDF("id", "amount", "cat"))
    val delta = LakeTable.changesSince(spark, log, t, v1)
    assert(delta.columns.toSeq == Seq("id", "amount", "cat"))
    assert(delta.count() == 1 && delta.head.getDouble(1) == 101.0)
  }

  test("change-feed deletes after a rename carry the renamed column") {
    val (log, t) = fresh()
    LakeSql.execute(spark, log, s"ALTER TABLE $t RENAME COLUMN price TO amount")
    val v = log.latestVersion(t)
    LakeTable.deleteWhereMor(spark, log, t, "id <= 5")
    val want = (1 to 5).map(_.toDouble)
    def amounts(df: org.apache.spark.sql.DataFrame) =
      df.select("amount").as[Double].collect().sorted.toSeq
    assert(amounts(LakeTable.dvDeletedRows(spark, log, t, v)) == want)
    assert(amounts(LakeTable.changeFeed(spark, log, t, v)
      .filter(col("_change_type") === "delete")) == want)
    assert(amounts(LakeSql.execute(spark, log, "SELECT amount FROM " +
      s"TABLE_CHANGES('$t', $v) WHERE _change_type = 'delete'")) == want)
  }

  test("literal colliding with a renamed logical name is NOT rewritten") {
    // After RENAME price->amount, the logical name 'amount' maps to
    // physical 'price'. A predicate whose LITERAL is the bare word
    // "amount" must keep that literal intact: rewriting it to 'price'
    // before stat pruning would unsoundly prune the files that hold
    // cat='amount' rows and silently skip them in DELETE/UPDATE.
    val log = new LakeLog(tmpDir("cmap"))
    val df = ((1 to 50).map(i => (i.toLong, i.toDouble, "amount")) ++
      (51 to 100).map(i => (i.toLong, i.toDouble, "zzz")))
      .toDF("id", "price", "cat")
    LakeTable.createTable(log, "lit", df.schema)
    // cluster by cat so each file's cat range is tight (prunable)
    LakeTable.insert(spark, log, "lit", df, numFiles = 4,
      zOrderBy = Seq("cat"))
    LakeSql.execute(spark, log,
      "ALTER TABLE lit RENAME COLUMN price TO amount")
    val snap = log.snapshot("lit")
    // sanity: the collision exists, and pruning keeps literals alone
    // while the column resolves to its physical stats
    assert(snap.schema.get.physFor("amount") == "price")
    def kept(p: String) = LakeTable.candidateFiles(spark, snap,
      QueryEngine.parsePredicate(p)).map(_.path).toSet
    def statsAdmit(c: String, ok: (String, String) => Boolean) =
      snap.files.filter { f =>
        val s = f.stats.get
        ok(s.min_values(c), s.max_values(c))
      }.map(_.path).toSet
    val holdsAmount = statsAdmit("cat", (lo, hi) =>
      lo <= "amount" && hi >= "amount")
    assert(holdsAmount.nonEmpty && holdsAmount.size < snap.files.size)
    assert(kept("cat = amount") == holdsAmount)
    assert(kept("cat = \"amount\"") == holdsAmount)
    assert(kept("amount > 10") ==
      statsAdmit("price", (_, hi) => hi.toDouble > 10))
    val r = LakeTable.deleteWhere(spark, log, "lit", "cat = amount")
    assert(r.rowsDeleted == 50L,
      s"literal rewritten before pruning skipped rows: ${r.rowsDeleted}")
    assert(LakeTable.read(spark, log, "lit").count() == 50L)
  }
}
