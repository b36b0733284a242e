package graft.lake

import java.time.Instant

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Soundness of `TimestampType` stat pruning in [[LakeFileIndex]]. Footer
  * stats render timestamps as wall clocks in the WRITER's session zone,
  * which the log does not record; the index must keep every file that
  * holds a matching row whatever the writer's and reader's zones, while
  * still pruning windows that miss a file by more than a day. */
class TimestampPruningSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType)))

  private def us(iso: String): Long = {
    val i = Instant.parse(iso)
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      i.getNano / 1000L)
  }

  private def instant(micros: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L)

  private def withZone[T](tz: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    spark.conf.set(key, tz)
    try body finally spark.conf.set(key, prev)
  }

  /** A table "t" with one file per slice of instants, each written with
    * `writerTz` as the session zone; returns the log and, per file path,
    * the instants it holds. */
  private def lake(name: String, writerTz: String, slices: Seq[Seq[Long]])
      : (LakeLog, Map[String, Seq[Long]]) = {
    val log = new LakeLog(tmpDir(name))
    LakeTable.createTable(log, "t", schema)
    var nextId = 0L
    val files = withZone(writerTz) {
      slices.map { s =>
        val rows = s.map { u => nextId += 1; (nextId, u) }
        val v = LakeTable.insert(spark, log, "t",
          rows.toDF("id", "u").select($"id",
            timestamp_micros($"u").as("ts"))).version
        val adds = log.readEntry("t", v).adds
        assert(adds.size == 1, s"one file per slice, got ${adds.size}")
        adds.head.path -> s
      }
    }
    (log, files.toMap)
  }

  private type Op = (String, (Column, Column) => Column,
    (Expression, Expression) => Expression, (Long, Long) => Boolean)
  private val ops: Seq[Op] = Seq(
    ("=", _ === _, EqualTo(_, _), _ == _),
    ("<", _ < _, LessThan(_, _), _ < _),
    ("<=", _ <= _, LessThanOrEqual(_, _), _ <= _),
    (">", _ > _, GreaterThan(_, _), _ > _),
    (">=", _ >= _, GreaterThanOrEqual(_, _), _ >= _))

  /** Every file's min and max, and each ±1 µs, against every operator (the
    * column on the left and on the right): the index keeps each file that
    * holds a matching row, and a read of the lake (reader zone `readerTz`)
    * returns exactly the matching rows. */
  private def checkSound(log: LakeLog, files: Map[String, Seq[Long]],
                         readerTz: String): Unit = withZone(readerTz) {
    val snap = log.snapshot("t")
    val index = new LakeFileIndex(spark, snap, schema)
    val attr = AttributeReference("ts", TimestampType)()
    val rows = files.values.flatten.toSeq
    val lits = files.values.flatMap(s => Seq(s.min, s.max))
      .flatMap(b => Seq(b - 1, b, b + 1)).toSeq.distinct.sorted
    val cases = for (l <- lits; (name, colOp, exprOp, holds) <- ops;
                     flipped <- Seq(false, true)) yield {
      val litE = Literal(l, TimestampType)
      val litC = lit(instant(l))
      val (e, c, matches) =
        if (flipped) (exprOp(litE, attr), colOp(litC, $"ts"),
          (v: Long) => holds(l, v))
        else (exprOp(attr, litE), colOp($"ts", litC),
          (v: Long) => holds(v, l))
      val kept = index.listFiles(Nil, Seq(e)).flatMap(_.files)
        .map(_.getPath.toUri.getPath).toSet
      files.foreach { case (path, vs) =>
        if (vs.exists(matches))
          assert(kept.contains(path),
            s"[$readerTz] pruned $path holding a row with " +
              s"${if (flipped) s"$l $name ts" else s"ts $name $l"}")
      }
      (c, rows.filter(matches))
    }
    // one query, one scan per predicate: the pruned read, the unpruned
    // read and the model agree predicate by predicate
    def answers(read: DataFrame): Map[Int, Seq[Long]] =
      cases.zipWithIndex.map { case ((c, _), i) =>
        read.filter(c).select(lit(i).as("p"), unix_micros($"ts").as("u"))
      }.reduce(_ unionAll _).as[(Int, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val pruned = answers(LakeTable.readIndexed(spark, log, "t"))
    assert(pruned == answers(LakeTable.read(spark, log, "t")))
    cases.zipWithIndex.foreach { case ((_, want), i) =>
      assert(pruned.getOrElse(i, Nil) == want.sorted, s"predicate #$i")
    }
  }

  test("files written at +14 h (Pacific/Kiritimati) prune soundly") {
    // around the writer's local midnight: the wall-clock stats sit 14 h
    // after the instants, so a zone-blind compare would drop file 1
    val (log, files) = lake("kiri", "Pacific/Kiritimati", Seq(
      Seq(us("2024-03-10T09:00:00Z"), us("2024-03-10T09:30:00.5Z"),
        us("2024-03-10T09:59:59.999999Z")),
      Seq(us("2024-03-10T10:00:00Z"), us("2024-03-10T11:00:00.000001Z")),
      Seq(us("2024-03-20T00:00:00Z"), us("2024-03-21T00:00:00Z"))))
    checkSound(log, files, "UTC")
    checkSound(log, files, "Pacific/Pago_Pago")
  }

  test("files written at −11 h (Pacific/Pago_Pago) prune soundly") {
    val (log, files) = lake("pago", "Pacific/Pago_Pago", Seq(
      Seq(us("2024-03-11T10:00:00Z"), us("2024-03-11T10:59:59.999999Z")),
      Seq(us("2024-03-11T11:00:00Z"), us("2024-03-11T12:34:56.789Z")),
      Seq(us("2024-03-01T00:00:00Z"), us("2024-03-02T00:00:00Z"))))
    checkSound(log, files, "UTC")
    checkSound(log, files, "Pacific/Kiritimati")
  }

  test("files across the America/New_York fall-back hour prune soundly") {
    // 01:00–02:00 local happens twice on 2024-11-03 (EDT, then EST): the
    // second file's wall clocks repeat the first's, and the third spans
    // the fold so its wall-clock min is later than its wall-clock max
    val (log, files) = lake("fold", "America/New_York", Seq(
      Seq(us("2024-11-03T05:10:00Z"), us("2024-11-03T05:50:00Z")),
      Seq(us("2024-11-03T06:10:00Z"), us("2024-11-03T06:50:00Z")),
      Seq(us("2024-11-03T05:45:00Z"), us("2024-11-03T06:15:00Z"))))
    checkSound(log, files, "UTC")
    checkSound(log, files, "Asia/Kolkata")
  }

  test("a NANOS-rounded max stays an upper bound") {
    // a TIMESTAMP(NANOS) file 999 ns past a micro: footer stats round the
    // max up to the next micro, the min down
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val path = tmpDir("nanos").resolve("f.parquet")
    val lo = us("2024-06-01T23:00:00Z")
    val hi = us("2024-06-02T01:00:00Z")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(path.toUri))
      .withType(msg).withConf(spark.sessionState.newHadoopConf()).build()
    val groups = new SimpleGroupFactory(msg)
    try Seq(lo * 1000L, hi * 1000L + 999L).foreach(n =>
      w.write(groups.newGroup().append("ts", n)))
    finally w.close()
    val cols = Seq(StructField("ts", TimestampType))
    Seq("UTC", "Pacific/Kiritimati", "Pacific/Pago_Pago").foreach { tz =>
      val (_, mins, maxs, _) = FooterStats.read(
        spark.sessionState.newHadoopConf(), path, cols, tz)
      assert(maxs("ts") == FooterStats.tsString(hi + 1, tz))
      assert(mins("ts") == FooterStats.tsString(lo, tz))
      val f = FileAdd(path.toString, 2, 1,
        stats = Some(FileStats(mins, maxs)))
      val index = new LakeFileIndex(spark,
        Snapshot("t", 1, None, Seq(f)), StructType(cols))
      val attr = AttributeReference("ts", TimestampType)()
      def keeps(e: Expression) = index.listFiles(Nil, Seq(e))
        .exists(_.files.nonEmpty)
      def l(v: Long) = Literal(v, TimestampType)
      Seq(hi - 1, hi, hi + 1, hi + 2).foreach { v =>
        assert(keeps(GreaterThanOrEqual(attr, l(v))), s"[$tz] ts >= $v")
        assert(keeps(EqualTo(attr, l(v))), s"[$tz] ts = $v")
      }
      Seq(lo - 1, lo, lo + 1).foreach { v =>
        assert(keeps(LessThanOrEqual(attr, l(v))), s"[$tz] ts <= $v")
      }
      // and a window two days clear of the file still prunes it
      assert(!keeps(GreaterThan(attr, l(hi + 48L * 3600 * 1000000))))
      assert(!keeps(LessThan(attr, l(lo - 48L * 3600 * 1000000))))
    }
  }

  test("a 7-day window inside one of 12 day slices scans exactly 1 file") {
    val day = 24L * 3600 * 1000000
    val start = us("2024-01-01T00:00:00Z")
    // 12 slices of 30 days, one row per day
    val (log, _) = lake("slices", "UTC", (0 until 12).map(s =>
      (0 until 30).map(d => start + (s * 30 + d) * day)))
    val from = start + (5 * 30 + 10) * day
    val window = LakeTable.readIndexed(spark, log, "t")
      .filter($"ts" >= lit(instant(from)) &&
        $"ts" < lit(instant(from + 7 * day)))
    val m = graft.Metrics.measure("ts_window", window)
    assert(m.rows == 7L)
    assert(m.filesScanned == 1L, s"scanned ${m.filesScanned} files")
    assert(m.filesPruned == 11L)
  }

  /** DML on the same zone trap: one file written at +14 h holds a row at
    * 2024-01-01T00:00Z (wall-clock stat 2024-01-01 14:00) and one a day
    * later. Run under UTC, `ts < '2024-01-01 12:00:00'` matches the first
    * row, so each op must act on it; the read must equal the model. */
  private val jan1 = us("2024-01-01T00:00:00Z")
  private val jan2 = us("2024-01-02T00:00:00Z")
  private val beforeNoon = "ts < '2024-01-01 12:00:00'"
  private val zoneDml: Seq[(String, LakeLog => Any, Set[(Long, Long)])] =
    Seq(
      ("deleteWhere", log => LakeTable.deleteWhere(spark, log, "t",
        beforeNoon), Set(2L -> jan2)),
      ("deleteWhereMor", log => LakeTable.deleteWhereMor(spark, log, "t",
        beforeNoon), Set(2L -> jan2)),
      ("updateWhere", log => LakeTable.updateWhere(spark, log, "t",
        beforeNoon, Seq("id" -> "id + 100")),
        Set(101L -> jan1, 2L -> jan2)))

  zoneDml.foreach { case (name, op, model) =>
    test(s"$name under UTC acts on a row a +14 h writer stored") {
      val (log, _) = lake(s"zone-$name", "Pacific/Kiritimati",
        Seq(Seq(jan1, jan2)))
      val report = withZone("UTC")(op(log))
      val got = LakeTable.read(spark, log, "t")
        .select($"id", unix_micros($"ts")).as[(Long, Long)].collect().toSet
      assert(got == model, s"report $report")
    }
  }
}
