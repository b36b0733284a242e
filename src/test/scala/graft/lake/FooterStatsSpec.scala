package graft.lake

import graft.SparkSpec
import graft.operators.QueryEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Footer-derived statistics must agree with a Spark scan's min/max on every
  * stat-eligible type — the footer path replaced a per-commit Spark stats
  * job, so this pins the two sources of truth together.
  */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  private def newLog() = new LakeLog(tmpDir("footerstats"))

  test("footer stats match a Spark scan's min/max for all eight types") {
    val log = newLog()
    val st = StructType(Seq(
      StructField("i32", IntegerType), StructField("i64", LongType),
      StructField("f32", FloatType), StructField("f64", DoubleType),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("d", DateType), StructField("ts", TimestampType)))
    LakeTable.createTable(log, "t", st)

    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      (rnd.nextInt(), rnd.nextLong(), rnd.nextFloat() * 100 - 50,
        rnd.nextDouble() * 1e6 - 5e5,
        rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString,
        rnd.nextBoolean(),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(30000).toLong)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(
          Math.abs(rnd.nextLong()) % 4102444800000L)))
    }
    val df = rows.toDF("i32", "i64", "f32", "f64", "s", "b", "d", "ts")
    LakeTable.insert(spark, log, "t", df, numFiles = 3)

    val snap = log.snapshot("t")
    assert(snap.files.size == 3 && snap.files.map(_.rows).sum == 500)

    for (f <- snap.files) {
      val part = spark.read.schema(st).parquet(f.path)
      val expect = part.agg(
        st.fields.toSeq.flatMap(c => Seq(
          min(col(c.name)).cast("string").as(s"min_${c.name}"),
          max(col(c.name)).cast("string").as(s"max_${c.name}"))).head,
        st.fields.toSeq.flatMap(c => Seq(
          min(col(c.name)).cast("string").as(s"min_${c.name}"),
          max(col(c.name)).cast("string").as(s"max_${c.name}"))).tail: _*
      ).collect().head
      val stats = f.stats.get
      for (c <- st.fields) {
        // float32 stats quote the EXACT decimal of the promoted double
        // (pruning compares in the double domain — see FooterStats), so
        // compare float columns numerically, everything else verbatim
        def check(got: String, want: String, side: String): Unit =
          c.dataType match {
            case FloatType =>
              assert(BigDecimal(got).toDouble == want.toFloat.toDouble,
                s"$side mismatch for ${c.name}")
            case _ => assert(got == want, s"$side mismatch for ${c.name}")
          }
        check(stats.min_values(c.name),
          expect.getAs[String](s"min_${c.name}"), "min")
        check(stats.max_values(c.name),
          expect.getAs[String](s"max_${c.name}"), "max")
      }
    }
  }

  test("all-null and NaN columns get no stats; pruning keeps their files") {
    val log = newLog()
    val st = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType),
      StructField("s", StringType)))
    LakeTable.createTable(log, "t", st)
    val df = Seq(
      (1L, Double.NaN, null.asInstanceOf[String]),
      (2L, 3.5, null.asInstanceOf[String])).toDF("id", "x", "s")
    LakeTable.insert(spark, log, "t", df)
    val f = log.snapshot("t").files.head
    val stats = f.stats.get
    assert(stats.min_values.get("s").isEmpty)      // all-null: no stats
    assert(stats.min_values("id") == "1" && stats.max_values("id") == "2")
    // NaN present: footer either drops the stat or records non-NaN bounds —
    // whichever way, pruning must keep the file for x = 3.5
    def prune(p: String) = LakeTable.candidateFiles(spark,
      log.snapshot("t"), QueryEngine.parsePredicate(p))
    assert(prune("x = 3.5").nonEmpty)
    assert(prune("s = zzz").nonEmpty)
  }

  test("timestamp stat rendering matches Spark's cast-to-string") {
    assert(FooterStats.tsString(0L, "UTC") == "1970-01-01 00:00:00")
    assert(FooterStats.tsString(1700000000123456L, "UTC") ==
      "2023-11-14 22:13:20.123456")
    assert(FooterStats.tsString(1700000000120000L, "UTC") ==
      "2023-11-14 22:13:20.12")
    // negative micros (pre-epoch) floor-divide correctly
    assert(FooterStats.tsString(-1L, "UTC") == "1969-12-31 23:59:59.999999")
  }
}
