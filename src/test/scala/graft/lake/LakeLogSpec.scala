package graft.lake

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.util.Try
import org.scalatest.funsuite.AnyFunSuite

/** Log/commit semantics, mirroring the reference's unit + property tests:
  * `pkg/metadata/state_test.go`, Property 4 (log-controlled visibility),
  * 6 (concurrent commit exclusion), 9 (replay determinism),
  * 10 (commit idempotency).
  */
class LakeLogSpec extends AnyFunSuite {

  private def newLog(): LakeLog = {
    val dir = Files.createTempDirectory("lake")
    dir.toFile.deleteOnExit()
    new LakeLog(dir)
  }
  private val schema = TableSchema(Seq(
    Field("id", "int64", nullable = false), Field("v", "float64")))
  private def add(p: String, rows: Long = 10, size: Long = 100) =
    FileAdd(p, rows, size)

  test("createTable writes version 0 with schema") {
    val log = newLog()
    log.createTable("t1", schema)
    assert(log.latestVersion("t1") == 0)
    val snap = log.snapshot("t1")
    assert(snap.version == 0 && snap.files.isEmpty &&
      snap.schema.contains(schema))
  }

  test("createTable validates name and schema") {
    val log = newLog()
    assertThrows[LakeValidationException](log.createTable("bad name", schema))
    assertThrows[LakeValidationException](
      log.createTable("t", TableSchema(Nil)))
    assertThrows[LakeValidationException](log.createTable("t",
      TableSchema(Seq(Field("a", "int64"), Field("a", "string")))))
    assertThrows[LakeValidationException](log.createTable("t",
      TableSchema(Seq(Field("a", "uint128")))))
    log.createTable("t", schema)
    assertThrows[LakeValidationException](log.createTable("t", schema))
  }

  test("commit advances version; snapshot replays adds and removes") {
    val log = newLog()
    log.createTable("t", schema)
    assert(log.commit("t", 0, "tx1", Seq(add("a"), add("b"))) ==
      CommitResult(1, duplicate = false))
    assert(log.commit("t", 1, "tx2", Seq(add("c")), removes = Seq("a")) ==
      CommitResult(2, duplicate = false))
    assert(log.snapshot("t").files.map(_.path) == Seq("b", "c"))
    // time travel: visibility is exactly the log replay at each version;
    // version 0 means "latest" (reference GetSnapshot, state.go:323-369)
    assert(log.snapshot("t", 1).files.map(_.path) == Seq("a", "b"))
    assert(log.snapshot("t", 0).files.map(_.path) == Seq("b", "c"))
  }

  test("snapshot bounds: future versions rejected, missing tables rejected") {
    val log = newLog()
    log.createTable("t", schema)
    assertThrows[LakeValidationException](log.snapshot("t", 99))
    assertThrows[LakeValidationException](log.snapshot("nope"))
    assertThrows[LakeValidationException](log.latestVersion("nope"))
    assertThrows[LakeValidationException](
      log.commit("nope", 0, "tx", Nil))
  }

  test("OCC rejects stale base version") {
    val log = newLog()
    log.createTable("t", schema)
    log.commit("t", 0, "tx1", Seq(add("a")))
    val e = intercept[CommitConflictException](
      log.commit("t", 0, "tx2", Seq(add("b"))))
    assert(e.getMessage.contains("base version 0"))
  }

  test("idempotency: duplicate txn id returns prior version, no new changes") {
    val log = newLog()
    log.createTable("t", schema)
    assert(log.commit("t", 0, "tx1", Seq(add("a"))) ==
      CommitResult(1, duplicate = false))
    // retry with any base version: same result, duplicate flag, no new version
    assert(log.commit("t", 1, "tx1", Seq(add("zzz"))) ==
      CommitResult(1, duplicate = true))
    assert(log.commit("t", 99, "tx1", Nil) == CommitResult(1, duplicate = true))
    assert(log.latestVersion("t") == 1)
    assert(log.snapshot("t").files.map(_.path) == Seq("a"))
  }

  test("file-operation validation: removes must exist, adds must be new") {
    val log = newLog()
    log.createTable("t", schema)
    log.commit("t", 0, "tx1", Seq(add("a")))
    assertThrows[LakeValidationException](
      log.commit("t", 1, "tx2", Nil, removes = Seq("nope")))
    assertThrows[LakeValidationException](
      log.commit("t", 1, "tx3", Seq(add("a"))))
    // re-add in same txn as remove is allowed (rewrite in place)
    assert(log.commit("t", 1, "tx4", Seq(add("a", rows = 5)),
      removes = Seq("a")).version == 2)
    assertThrows[LakeValidationException](
      log.commit("t", 2, "tx5", Seq(FileAdd("", 1, 1))))
    assertThrows[LakeValidationException](
      log.commit("t", 2, "tx6", Seq(FileAdd("s", 0, 10))))
  }

  test("Property 9: replay is deterministic — fresh LakeLog over the same dir") {
    val log = newLog()
    log.createTable("t", schema)
    log.commit("t", 0, "tx1", Seq(add("b"), add("a")))
    log.commit("t", 1, "tx2", Seq(add("c")), removes = Seq("a"))
    val replayed = new LakeLog(log.root)
    assert(replayed.snapshot("t") == log.snapshot("t"))
    assert(replayed.snapshot("t", 1) == log.snapshot("t", 1))
    assert(replayed.snapshot("t").files.map(_.path) ==
      replayed.snapshot("t").files.map(_.path).sorted)
  }

  test("Property 6: N concurrent commits at the same base → exactly one winner") {
    val log = newLog()
    log.createTable("t", schema)
    val n = 16
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Try[CommitResult]] {
        def call(): Try[CommitResult] = {
          start.await()
          Try(log.commit("t", 0, s"tx$i", Seq(add(s"f$i"))))
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    val outcomes = results.map(_.get())
    assert(outcomes.count(_.isSuccess) == 1)
    assert(outcomes.filter(_.isFailure).forall(
      _.failed.get.isInstanceOf[CommitConflictException]))
    assert(log.latestVersion("t") == 1)
    assert(log.snapshot("t").files.size == 1)
  }

  test("Property 10 concurrent: same txn retried in parallel commits once") {
    val log = newLog()
    log.createTable("t", schema)
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = (0 until n).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Try[CommitResult]] {
        def call(): Try[CommitResult] = {
          start.await()
          Try(log.commitWithRetry("t", "same-txn")(
            _ => Some((Seq(add("once")), Nil))).get)
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    val ok = results.map(_.get()).collect { case scala.util.Success(r) => r }
    assert(ok.size == n) // every retry converges to the same commit
    assert(ok.map(_.version).distinct == Seq(1))
    assert(ok.count(!_.duplicate) == 1)
    assert(log.snapshot("t").files.map(_.path) == Seq("once"))
  }

  test("commitWithRetry replans against the fresh snapshot on conflict") {
    val log = newLog()
    log.createTable("t", schema)
    log.commit("t", 0, "setup", Seq(add("a")))
    var attempts = 0
    val result = log.commitWithRetry("t", "retry-tx") { snap =>
      attempts += 1
      if (attempts == 1) {
        // sneak in a competing commit between plan and commit
        log.commit("t", snap.version, "competitor", Seq(add("b")))
      }
      Some((Seq(add(s"mine")), Nil))
    }
    assert(result.exists(!_.duplicate))
    assert(attempts == 2)
    assert(log.snapshot("t").files.map(_.path) == Seq("a", "b", "mine"))
  }

  test("every metadata verb counts its attempt once and each replay as a " +
      "duplicate") {
    val log = newLog()
    log.createTable("t", TableSchema(Seq(Field("id", "int64"),
      Field("v", "float64"), Field("w", "string"))))
    val verbs: Seq[(String, String => CommitResult)] = Seq(
      "setConstraints" -> (tx =>
        log.setConstraints("t", Map("pos" -> "id > 0"), tx)),
      "setTableStats" -> (tx => log.setTableStats("t",
        Map("__table" -> Map("row_count" -> "0")), tx)),
      "renameColumn" -> (tx => log.renameColumn("t", "v", "value", tx)),
      "dropColumn" -> (tx => log.dropColumn("t", "w", tx)))
    verbs.foreach { case (name, verb) =>
      val (attempts, dups) =
        (log.commitAttempts.get(), log.commitDuplicates.get())
      val first = verb(s"$name-tx")
      assert(!first.duplicate, name)
      assert(log.commitAttempts.get() == attempts + 1, name)
      assert(log.commitDuplicates.get() == dups, name)
      assert(verb(s"$name-tx") == CommitResult(first.version, duplicate = true),
        name)
      assert(log.commitAttempts.get() == attempts + 1, name)
      assert(log.commitDuplicates.get() == dups + 1, name)
    }
  }

  test("record formats: the shared mapper's JSON is byte-stable") {
    import LakeLog.mapper
    val entry = LogEntry(7, 1700000000123L, "txn-7", None,
      Seq(FileAdd("/lake/tables/t/data/part-00000-a.parquet", 10, 1234,
        Map("d" -> "2024-01-01"), Some(FileStats(Map("id" -> "1"),
          Map("id" -> "10"), None, Some(Map("id" -> 0L)))))),
      Seq("/lake/tables/t/data/old.parquet"))
    assert(mapper.writeValueAsString(entry) ==
      """{"version":7,"timestamp_ms":1700000000123,"txn_id":"txn-7",""" +
      """"adds":[{"path":"/lake/tables/t/data/part-00000-a.parquet",""" +
      """"rows":10,"size":1234,"partition":{"d":"2024-01-01"},""" +
      """"stats":{"min_values":{"id":"1"},"max_values":{"id":"10"},""" +
      """"null_counts":{"id":0}},"rewrite":false}],""" +
      """"removes":["/lake/tables/t/data/old.parquet"]}""")
    assert(mapper.writeValueAsString(Wap.StagedBatch("w1", 3,
      1700000000456L, Seq(FileAdd("/x/p.parquet", 5, 99)))) ==
      """{"wap_id":"w1","base_version":3,"created_ms":1700000000456,""" +
      """"adds":[{"path":"/x/p.parquet","rows":5,"size":99,""" +
      """"partition":{},"rewrite":false}]}""")
    assert(mapper.writeValueAsString(
      Refs.TableRef("prod", 4, 1700000000789L, Refs.Branch)) ==
      """{"name":"prod","version":4,"created_ms":1700000000789,""" +
      """"kind":"branch"}""")
    assert(mapper.writeValueAsString(MultiTxn.TxnRecord("tx1",
      Seq("a", "b"), 1700000000999L, Some(Seq(MultiTxn.TableVersion("a", 2),
        MultiTxn.TableVersion("b", 5))))) ==
      """{"txn_id":"tx1","tables":["a","b"],"created_ms":1700000000999,""" +
      """"versions":[{"table":"a","version":2},{"table":"b","version":5}]}""")
    assert(mapper.writeValueAsString(
      MultiTxn.TxnRecord("tx2", Seq("a"), 1700000001000L)) ==
      """{"txn_id":"tx2","tables":["a"],"created_ms":1700000001000}""")
  }
}
