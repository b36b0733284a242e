package graft.lake

import org.apache.spark.sql.types._

import graft.SparkSpec

/** Log checkpoints: replay state materialized every N commits so snapshot
  * cost is O(interval) at any table age. Checkpoints are DERIVED — every
  * answer must equal the pure-replay answer, and deleting them must change
  * nothing but cost.
  */
class LakeCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", DoubleType)))

  private def commitN(log: LakeLog, table: String, n: Int,
                      from: Int = 0): Unit =
    (from until from + n).foreach(i => LakeTable.insert(spark, log, table,
      Seq((i.toLong, i * 0.5)).toDF("id", "v"), txnId = s"txn-$i"))

  private def checkpointFiles(log: LakeLog, table: String) = {
    val s = java.nio.file.Files.list(log.logDir(table))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".checkpoint.json")).toList.sorted
    } finally s.close()
  }

  test("checkpoints appear on cadence and snapshots equal pure replay") {
    val log = new LakeLog(tmpDir("ckpt"), checkpointInterval = 5)
    log.createTable("t", LakeTable.fromStructType(schema))
    commitN(log, "t", 12)
    assert(checkpointFiles(log, "t") ==
      List(f"${5L}%020d.checkpoint.json", f"${10L}%020d.checkpoint.json"))
    // v13 removes a file, v14 evolves the schema, v15 (a checkpoint)
    // removes another: each checkpoint is its commit's replay plus the
    // new entry, so removes and schema changes must carry through it
    val first = log.snapshot("t").files.map(_.path)
    log.commit("t", 12L, "rm-1", Nil, Seq(first.head))
    val sch = log.snapshot("t").schema.get
    log.evolveSchema("t", sch.copy(fields = sch.fields :+ Field("w", "string")),
      "evolve")
    log.commit("t", 14L, "rm-2", Nil, Seq(first(1)))
    assert(checkpointFiles(log, "t").size == 3)
    val latest = 15L
    val txnIds = (0L to latest).map(log.readEntry("t", _).txn_id) :+ "unknown"
    // every version's snapshot and txn map, and every txn id's
    // committedVersion, read through the checkpoints by a fresh instance
    def answers(l: LakeLog) =
      ((0L to latest).map(v => (l.snapshot("t", v),
        l.replay("t", Some(v)).txns)),
        txnIds.map(l.committedVersion("t", _)))
    val withCp = answers(new LakeLog(log.root))
    // same root read WITHOUT checkpoints = pure replay
    checkpointFiles(log, "t").foreach(n =>
      java.nio.file.Files.delete(log.logDir("t").resolve(n)))
    val pure = answers(new LakeLog(log.root)) // fresh instance, no caches
    (0L to latest).foreach { v =>
      assert(pure._1(v.toInt)._1 == withCp._1(v.toInt)._1,
        s"checkpointed snapshot at v$v diverged from replay")
      assert(pure._1(v.toInt)._2 == withCp._1(v.toInt)._2,
        s"checkpointed txn map at v$v diverged from replay")
    }
    assert(pure._2 == withCp._2)
    assert(pure._2.init == (0L to latest).map(Some(_)))
  }

  test("txn idempotency survives across a checkpoint boundary") {
    val log = new LakeLog(tmpDir("ckpt"), checkpointInterval = 3)
    log.createTable("t", LakeTable.fromStructType(schema))
    commitN(log, "t", 7)
    // re-deliver a txn whose commit is BELOW the newest checkpoint: the
    // map must come through the checkpoint, not a fresh commit
    val r = LakeTable.insert(spark, log, "t",
      Seq((99L, 9.9)).toDF("id", "v"), txnId = "txn-1")
    assert(r.duplicate && r.version == 2L)
    // and a genuinely new txn still commits
    assert(!LakeTable.insert(spark, log, "t",
      Seq((100L, 1.0)).toDF("id", "v"), txnId = "fresh").duplicate)
  }

  test("a reader pays O(interval) entry reads, not O(versions)") {
    val log = new LakeLog(tmpDir("ckpt"), checkpointInterval = 5)
    log.createTable("t", LakeTable.fromStructType(schema))
    commitN(log, "t", 17)
    // fresh instance: nothing cached; snapshot(latest=18) must read the
    // v15 checkpoint + entries 16..18 only
    val cold = new LakeLog(log.root, checkpointInterval = 5)
    val snap = cold.snapshot("t")
    assert(snap.version == 17L && snap.files.size == 17)
    assert(cold.entryReads.get() <= 5,
      s"read ${cold.entryReads.get()} entries; checkpoint not used")
  }

  test("time travel below the oldest checkpoint still replays entries") {
    val log = new LakeLog(tmpDir("ckpt"), checkpointInterval = 4)
    log.createTable("t", LakeTable.fromStructType(schema))
    commitN(log, "t", 9)
    assert(log.snapshot("t", 2L).files.size == 2)
    assert(log.snapshot("t", 4L).files.size == 4)
  }

  test("log reads list _log a fixed number of times at any table age") {
    val log = new LakeLog(tmpDir("ckpt"))
    log.createTable("t", LakeTable.fromStructType(schema))
    // one live file, replaced by each commit, so only the log grows
    def growTo(n: Long): Unit = (log.latestVersion("t") + 1 to n).foreach { v =>
      log.commit("t", v - 1, s"grow-$v", Seq(FileAdd(s"f$v", 1, 1)),
        log.snapshot("t").files.map(_.path))
    }
    def listings(op: => Any): Long = {
      val before = log.dirListings.get()
      op
      log.dirListings.get() - before
    }
    def perOp(): Seq[Long] = Seq(
      listings(log.snapshot("t")),
      listings(log.committedVersion("t", "grow-1")),
      listings(log.latestVersion("t")),
      listings(LakeTable.insert(spark, log, "t",
        Seq((1L, 1.0)).toDF("id", "v"))))
    growTo(20)
    val at20 = perOp()
    growTo(200)
    val at200 = perOp()
    assert(at20 == at200, s"20 versions: $at20, 200 versions: $at200")
    // snapshot, committedVersion, latestVersion, committed insert
    assert(at200 == Seq(1L, 1L, 1L, 4L))
  }

  test("interval 0 disables checkpointing") {
    val log = new LakeLog(tmpDir("ckpt"), checkpointInterval = 0)
    log.createTable("t", LakeTable.fromStructType(schema))
    commitN(log, "t", 6)
    assert(checkpointFiles(log, "t").isEmpty)
    assert(log.snapshot("t").files.size == 6)
  }

  test("drop + recreate with the same name never resurrects cached state") {
    val log = new LakeLog(tmpDir("ckpt"), checkpointInterval = 3)
    log.createTable("t", LakeTable.fromStructType(schema))
    commitN(log, "t", 4)
    assert(log.snapshot("t").files.size == 4)
    log.dropTable("t")
    log.createTable("t", LakeTable.fromStructType(schema))
    commitN(log, "t", 2, from = 50)
    val snap = log.snapshot("t")
    assert(snap.files.size == 2, s"stale cache: ${snap.files.size} files")
  }
}
