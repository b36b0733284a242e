package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.QueryEngine

/** Per-file Bloom data skipping: equality probes drop files whose bloom
  * proves the value absent even when every file's min/max RANGE covers the
  * probe (interleaved ids make range pruning useless by construction);
  * soundness (never lose a matching row), back-compat with bloom-less log
  * entries, and the validation surface.
  */
class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  // ids interleave across files: all three ranges ≈ [i, 300+i], so min/max
  // covers ANY probe in-range and only the bloom can discriminate
  private def threeInterleavedInserts(log: LakeLog, table: String,
                                      bloomCols: Seq[String]): Unit = {
    LakeTable.createTable(log, table, StructType(Seq(
      StructField("id", LongType, false),
      StructField("tag", StringType))))
    (0 until 3).foreach { i =>
      val rows = (0L until 100L).map(j => (j * 3 + i, s"tag-${j * 3 + i}"))
      LakeTable.insert(spark, log, table, rows.toDF("id", "tag"),
        bloomCols = bloomCols)
    }
  }

  test("equality probe scans only the file whose bloom fires") {
    val log = new LakeLog(tmpDir("bloomlake"))
    threeInterleavedInserts(log, "t", Seq("id", "tag"))
    val snap = log.snapshot("t")
    assert(snap.files.size == 3)
    assert(snap.files.forall(_.stats.exists(_.blooms.exists(_.size == 2))))

    // id = 151 lives only in file (151 % 3 = 1); ranges cover it in all 3
    val m = graft.Metrics.measure("bloom-point",
      LakeTable.readIndexed(spark, log, "t").filter(col("id") === 151L))
    assert(m.rows == 1)
    assert(m.filesScanned == 1 && m.filesPruned == 2, m)

    // string column probes prune identically
    val ms = graft.Metrics.measure("bloom-string",
      LakeTable.readIndexed(spark, log, "t").filter(col("tag") === "tag-299"))
    assert(ms.rows == 1)
    assert(ms.filesScanned == 1 && ms.filesPruned == 2, ms)

    // IN-lists union the per-literal keeps: two values from two files
    val mi = graft.Metrics.measure("bloom-in",
      LakeTable.readIndexed(spark, log, "t")
        .filter(col("id").isin(30L, 31L)))
    assert(mi.rows == 2)
    assert(mi.filesScanned == 2 && mi.filesPruned == 1, mi)

    // a value in NO file: every bloom proves absence, zero files open
    val mz = graft.Metrics.measure("bloom-miss",
      LakeTable.readIndexed(spark, log, "t").filter(col("id") === 299000L))
    assert(mz.rows == 0)
    assert(mz.filesScanned == 0 && mz.filesPruned == 3, mz)
  }

  test("soundness: bloom-pruned reads return exactly the unpruned rows") {
    val log = new LakeLog(tmpDir("bloomsound"))
    threeInterleavedInserts(log, "t", Seq("id"))
    val full = LakeTable.read(spark, log, "t")
    (0L until 300L by 17L).foreach { probe =>
      val got = LakeTable.readIndexed(spark, log, "t")
        .filter(col("id") === probe).collect().map(_.getLong(0)).toSeq
      val want = full.filter(col("id") === probe)
        .collect().map(_.getLong(0)).toSeq
      assert(got == want, s"probe $probe")
    }
  }

  test("3-token API path prunes through the same blooms") {
    val log = new LakeLog(tmpDir("bloom3tok"))
    threeInterleavedInserts(log, "t", Seq("id"))
    val snap = log.snapshot("t")
    def prune(p: String) = LakeTable.candidateFiles(spark, snap,
      QueryEngine.parsePredicate(p))
    val kept = prune("id = 151")
    assert(kept.size == 1, s"expected 1 file, got ${kept.size}")
    // range ops ignore blooms (a bloom can't answer inequalities)
    assert(prune("id > 0").size == 3)
  }

  test("bloom-less entries and non-bloomed columns are kept (back-compat)") {
    val log = new LakeLog(tmpDir("bloomless"))
    LakeTable.createTable(log, "t", StructType(Seq(
      StructField("id", LongType, false))))
    LakeTable.insert(spark, log, "t", (0L until 10L).toDF("id")) // no blooms
    val snap = log.snapshot("t")
    assert(snap.files.head.stats.exists(_.blooms.isEmpty))
    val m = graft.Metrics.measure("nobloom",
      LakeTable.readIndexed(spark, log, "t").filter(col("id") === 5L))
    assert(m.rows == 1 && m.filesScanned == 1)
    // old entries (no blooms field in JSON) parse and keep
    assert(BloomSkip.mightContain(snap.files.head, "id", "5").isEmpty)
  }

  test("declared bloom columns survive compaction and copy-on-write") {
    val log = new LakeLog(tmpDir("bloomrewrite"))
    LakeTable.createTable(log, "t", StructType(Seq(
      StructField("id", LongType, false))),
      bloomFilterCols = Seq("id"))
    // schema-declared blooms: plain inserts build them without opting in
    (0 until 4).foreach { i =>
      LakeTable.insert(spark, log, "t",
        (0L until 50L).map(j => j * 4 + i).toDF("id"))
    }
    assert(log.snapshot("t").files.forall(
      _.stats.exists(_.blooms.exists(_.contains("id")))))

    // compaction rewrites the files — the rewritten file must carry a
    // REBUILT bloom, not lose the index
    val report = LakeTable.compact(spark, log, "t", force = true)
    assert(report.filesAdded >= 1)
    val compacted = log.snapshot("t")
    assert(compacted.files.forall(
      _.stats.exists(_.blooms.exists(_.contains("id")))),
      "compaction dropped the declared bloom index")
    // and it still answers probes (value present after rewrite)
    assert(BloomSkip.mightContain(compacted.files.head, "id", "13")
      .contains(true))

    // copy-on-write delete: surviving-rows rewrite keeps the bloom too
    LakeTable.deleteWhere(spark, log, "t", "id = 13")
    assert(log.snapshot("t").files.forall(
      _.stats.exists(_.blooms.exists(_.contains("id")))),
      "delete rewrite dropped the declared bloom index")
  }

  test("sidecar lifecycle: blooms ride next to the data, never in the log") {
    val log = new LakeLog(tmpDir("bloomside"))
    LakeTable.createTable(log, "t", StructType(Seq(
      StructField("id", LongType, false))),
      bloomFilterCols = Seq("id"))
    LakeTable.insert(spark, log, "t", (0L until 100L).toDF("id"))
    val f0 = log.snapshot("t").files.head
    // the log entry carries only the column list; the sketch is a sidecar
    assert(f0.stats.get.blooms.contains(Seq("id")))
    val sidecar = java.nio.file.Paths.get(BloomSkip.sidecarPath(f0.path))
    assert(java.nio.file.Files.exists(sidecar))
    // log entry on disk holds no sketch bytes (a 100k-item sketch is
    // ~100 KB — the whole entry must stay far smaller)
    val entrySize = java.nio.file.Files.size(
      log.logDir("t").resolve("%020d.json".format(1L)))
    assert(entrySize < 10000, s"log entry unexpectedly large: $entrySize")

    // compaction rewrites → old file vacuumed → its sidecar goes too
    (1 to 3).foreach(_ =>
      LakeTable.insert(spark, log, "t", (0L until 10L).toDF("id")))
    LakeTable.compact(spark, log, "t", force = true)
    LakeTable.vacuum(log, "t", retainVersions = 1, tmpRetainMs = 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f0.path)))
    assert(!java.nio.file.Files.exists(sidecar),
      "vacuum left the dead file's bloom sidecar behind")
    // the live rewritten file's sidecar survives and still probes
    val live = log.snapshot("t").files.head
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(BloomSkip.sidecarPath(live.path))))
    assert(BloomSkip.mightContain(live, "id", "5").contains(true))
    assert(BloomSkip.mightContain(live, "id", "99999") == Some(false) ||
      BloomSkip.mightContain(live, "id", "99999").contains(true)) // fpp
  }

  test("validation: bloom columns must exist, be data cols, render canonically") {
    val log = new LakeLog(tmpDir("bloomval"))
    LakeTable.createTable(log, "t", StructType(Seq(
      StructField("id", LongType, false),
      StructField("price", DoubleType),
      StructField("day", StringType))), partitionBy = Seq("day"))
    import spark.implicits._
    val df = Seq((1L, 1.5, "d1")).toDF("id", "price", "day")
    intercept[LakeValidationException](
      LakeTable.insert(spark, log, "t", df, bloomCols = Seq("nope")))
    intercept[LakeValidationException](
      LakeTable.insert(spark, log, "t", df, bloomCols = Seq("day")))
    intercept[LakeValidationException](
      LakeTable.insert(spark, log, "t", df, bloomCols = Seq("price")))
    // valid: id blooms, partitioned table
    val r = LakeTable.insert(spark, log, "t", df, bloomCols = Seq("id"))
    assert(r.version == 1)
    assert(log.snapshot("t").files.head.stats.exists(
      _.blooms.exists(_.contains("id"))))
  }

  test("non-canonical integral literals canonicalize before the bloom probe") {
    import spark.implicits._
    val log = new LakeLog(tmpDir("bloomcanon"))
    LakeTable.createTable(log, "t", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType))))
    LakeTable.insert(spark, log, "t",
      (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"),
      bloomCols = Seq("id"))
    // "007", "+7", "7e0" all denote 7 — the sketch hashed "7"; an
    // uncanonicalized probe would prove absence and unsoundly prune the
    // only file, silently skipping the delete
    Seq("007", "+7", "7e0").foreach { spelled =>
      val log2 = new LakeLog(tmpDir("bloomcanon2"))
      LakeTable.createTable(log2, "t", StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("v", DoubleType))))
      LakeTable.insert(spark, log2, "t",
        (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"),
        bloomCols = Seq("id"))
      val d = LakeTable.deleteWhere(spark, log2, "t", s"id = $spelled")
      assert(d.rowsDeleted == 1L, s"literal '$spelled' deleted nothing")
      assert(LakeTable.read(spark, log2, "t")
        .filter(org.apache.spark.sql.functions.col("id") === 7L)
        .count() == 0)
    }
    // sanity: canonical spelling still prunes/deletes
    assert(LakeTable.deleteWhere(spark, log, "t", "id = 7").rowsDeleted == 1L)
  }
}
