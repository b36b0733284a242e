package graft.lake

import java.time.{Instant, LocalDate, ZoneOffset}

import graft.SparkSpec
import graft.api.SqlApi
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[ParamScan]]: a lake read whose filter literals change reuses the
  * compiled stage, and answers, pushed filters and file pruning are those
  * of a planner without the strategy. */
class ParamScanSpec extends SparkSpec {

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `build`'s frame planned by a fresh session's planner WITHOUT the
    * strategy (the lake read installs it; it is taken out again before the
    * frame plans), and by the shared session's planner with it. */
  private def arms[T](build: SparkSession => DataFrame)(
      use: DataFrame => T): (T, T) = {
    val s = spark.newSession()
    val df = build(s)
    s.experimental.extraStrategies =
      s.experimental.extraStrategies.filterNot(_ == ParamScan)
    (use(df), use(build(spark)))
  }

  private def plan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => plan(a.executedPlan)
    case q: QueryStageExec => plan(q.plan)
    case other => other +: other.children.flatMap(plan)
  }

  private def params(df: DataFrame): Seq[ParamLiteral] =
    plan(df.queryExecution.executedPlan)
      .flatMap(_.expressions.flatMap(_.collect { case p: ParamLiteral => p }))

  private def lake(name: String, schema: StructType,
                   files: Seq[Seq[Row]]): LakeLog = {
    val log = new LakeLog(tmpDir(name))
    LakeTable.createTable(log, "t", schema)
    files.foreach(rows => LakeTable.insert(spark, log, "t",
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)))
    log
  }

  private val windowSchema = StructType(Seq(StructField("id", LongType),
    StructField("day", DateType), StructField("q", DoubleType)))
  private val day0 = LocalDate.parse("2024-01-01")
  private lazy val windowLog = lake("param-window", windowSchema,
    (0 until 40).grouped(20).toSeq.map(_.map(k =>
      Row(k.toLong, day0.plusDays(k), k * 1.5))))

  test("reads differing only in literals compile no new class") {
    def window(from: Int, to: Int, above: Long): Row =
      SqlApi.queryLake(spark, windowLog,
        "SELECT count(*) AS n, sum(q) AS s FROM t " +
          s"WHERE day >= DATE'${day0.plusDays(from)}' " +
          s"AND day < DATE'${day0.plusDays(to)}' AND id > $above").head()
    def range(lo: Long, hi: Long): Row =
      LakeTable.read(spark, windowLog, "t")
        .filter(col("id").between(lo, hi) && col("q") * 2.0 > 3.0)
        .agg(count(lit(1)), sum("q")).head()
    window(0, 7, 1)
    range(2, 9)
    val before = compiles()
    val w = window(5, 31, 17)
    val r = range(11, 38)
    assert(compiles() - before == 0, "a new literal compiled a new class")
    val ws = (18 until 31)
    assert(w == Row(ws.size.toLong, ws.map(_ * 1.5).sum))
    val rs = (11 to 38)
    assert(r == Row(rs.size.toLong, rs.map(_ * 1.5).sum))
  }

  test("a new partition-filter value compiles no class") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType)))
    val log = new LakeLog(tmpDir("param-part"))
    LakeTable.createTable(log, "t", schema, partitionBy = Seq("p"))
    LakeTable.insert(spark, log, "t", spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 80).map(k => Row(k.toLong, k % 8)), 1), schema))
    assert(log.snapshot("t").files.size == 8)
    def slice(s: SparkSession, p: Int): DataFrame =
      LakeTable.readIndexed(s, log, "t").filter(col("p") === p)
        .agg(count(lit(1)), sum("id"))
    slice(spark, 1).head()
    slice(spark, 2).head()
    val before = compiles()
    val got = Seq(3, 4).map(p => slice(spark, p).head())
    assert(compiles() - before == 0,
      "a new partition-filter value compiled a new class")
    Seq(3, 4).zip(got).foreach { case (p, r) =>
      val ids = (0 until 80).filter(_ % 8 == p)
      assert(r == Row(ids.size.toLong, ids.sum.toLong))
      val (plain, param) = arms(slice(_, p))(_.collect().toSeq)
      assert(param == plain && param == Seq(r))
    }
  }

  // every hoisted type: int, long, float, double, date and timestamp
  // columns, short, byte and timestamp_ntz through casts
  private val ints = Seq(Int.MinValue, -100, -7, -1, 0, 1, 7, 42, 99,
    Int.MaxValue)
  private val longs = Seq(Long.MinValue, -100L, -7L, -1L, 0L, 1L, 7L, 42L,
    99L, Long.MaxValue)
  private val floats = Seq(Float.NegativeInfinity, Float.MinValue, -1.5f,
    -0.0f, 0.0f, Float.MinPositiveValue, 2.5f, Float.MaxValue,
    Float.PositiveInfinity, Float.NaN)
  private val doubles = Seq(Double.NegativeInfinity, Double.MinValue, -1.5,
    -0.0, 0.0, Double.MinPositiveValue, 2.5, Double.MaxValue,
    Double.PositiveInfinity, Double.NaN)
  private val dates = Seq("1900-01-01", "1969-12-31", "1970-01-01",
    "1970-01-02", "2000-02-29", "2024-01-01", "2024-06-15", "2024-06-16",
    "2099-12-31", "9999-12-31").map(LocalDate.parse)
  private val instants = Seq("1900-01-01T00:00:00Z",
    "1969-12-31T23:59:59.999999Z", "1970-01-01T00:00:00Z",
    "1970-01-01T00:00:00.000001Z", "2000-02-29T12:00:00Z",
    "2024-03-10T09:30:00.123456Z", "2024-03-10T09:30:00.123457Z",
    "2024-06-15T00:00:00Z", "2099-12-31T23:59:59.999999Z",
    "2262-04-11T00:00:00Z").map(Instant.parse)

  private val typesSchema = StructType(Seq(StructField("id", LongType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dt", DateType), StructField("ts", TimestampType)))
  private lazy val typesLog = lake("param-types", typesSchema, {
    val rows = ints.indices.map(k => Row(k.toLong, ints(k), longs(k),
      floats(k), doubles(k), java.sql.Date.valueOf(dates(k)),
      java.sql.Timestamp.from(instants(k)))) :+
      Row(ints.size.toLong, null, null, null, null, null, null)
    rows.grouped(6).toSeq
  })

  /** (column, probe literals, arithmetic over the column). */
  private def columns: Seq[(Column, Seq[Column], Seq[Column])] = {
    val (i, l, f, d) = (col("i"), col("l"), col("f"), col("d"))
    val s = (i % 100).cast(ShortType)
    val b = (i % 100).cast(ByteType)
    Seq(
      (i, ints.map(lit), Seq(i * 1, i % 7, i - 0, i / 3)),
      (l, longs.map(lit), Seq(l * 1L, l % 7L, l + 0L)),
      (s, Seq(Short.MinValue, -7.toShort, 0.toShort, 42.toShort,
        Short.MaxValue).map(lit), Seq(s + 1.toShort, s * 2.toShort)),
      (b, Seq(Byte.MinValue, -7.toByte, 0.toByte, 42.toByte,
        Byte.MaxValue).map(lit), Seq(b - 1.toByte, b % 5.toByte)),
      (f, floats.map(lit), Seq(f * 2.0f, f + -0.0f, f / 1.5f)),
      (d, doubles.map(lit), Seq(d * 2.0, d - 1.5, d / -1.5, d % 2.0)),
      (col("dt"), dates.map(lit), Nil),
      (col("ts"), instants.map(lit), Nil),
      (col("ts").cast(TimestampNTZType),
        instants.map(x => lit(x.atOffset(ZoneOffset.UTC).toLocalDateTime)),
        Nil))
  }

  /** Every operator against every probe: the comparisons, IN lists,
    * BETWEEN, and arithmetic compared with a probe. */
  private def predicates: Seq[Column] = columns.flatMap { case (c, ps, ar) =>
    val cmp: Seq[(Column, Column) => Column] =
      Seq(_ === _, _ < _, _ <= _, _ > _, _ >= _)
    ps.flatMap(p => cmp.map(_(c, p))) ++
      Seq(c.isin(ps.take(3): _*), c.isin(ps.takeRight(4): _*),
        c.between(ps(1), ps(ps.size - 2))) ++
      ar.flatMap(a => ps.flatMap(p => Seq(a === p, a < p, a >= p)))
  }

  test("answers equal the plain planner's for every hoisted type") {
    val preds = predicates
    // projection path: every predicate over every row
    val (plainP, paramP) = arms(s => LakeTable.readIndexed(s, typesLog, "t")
      .select(col("id") +: preds.zipWithIndex.map { case (p, k) =>
        p.as(s"p$k") }: _*)) { df =>
      (df.collect().sortBy(_.getLong(0)).toSeq, params(df))
    }
    assert(plainP._2.isEmpty)
    assert(paramP._1 == plainP._1)
    assert(paramP._2.map(_.dataType).toSet == Set(IntegerType, LongType,
      ShortType, ByteType, FloatType, DoubleType, DateType, TimestampType,
      TimestampNTZType))
    // filter path: each operator once per column, through the scan's
    // pushed filters and the FilterExec above it
    val mid = columns.flatMap { case (c, ps, ar) =>
      val p = ps(ps.size / 2)
      Seq(c === p, c < p, c <= p, c > p, c >= p, c.isin(ps.take(3): _*),
        c.between(ps(1), ps(ps.size - 2))) ++ ar.map(_ > p)
    }
    val (plainF, paramF) = arms(s => mid.zipWithIndex.map { case (p, k) =>
      LakeTable.read(s, typesLog, "t").filter(p).select(lit(k), col("id"))
    }.reduce(_ unionAll _)) { df =>
      (df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet,
        params(df).size)
    }
    assert(plainF._2 == 0 && paramF._2 > 0)
    assert(paramF._1 == plainF._1)
    assert(paramF._1.map(_._1).size > mid.size / 2,
      "most probes should match some row")
  }

  test("pushed filters and files scanned are unchanged") {
    val log = lake("param-prune", windowSchema,
      (0 until 80).grouped(20).toSeq.map(_.map(k =>
        Row(k.toLong, day0.plusDays(k), k * 1.5))))
    val (plain, param) = arms(s => LakeTable.readIndexed(s, log, "t")
      .filter(col("id").between(25L, 47L) && col("q") > 40.0 &&
        col("day") < lit(day0.plusDays(45)))) { df =>
      val m = graft.Metrics.measure("param-prune", df)
      val pushed = plan(df.queryExecution.executedPlan).collect {
        case f: FileSourceScanExec => f.metadata("PushedFilters")
      }
      (pushed, m.filesScanned, m.filesPruned, m.rows, params(df).size)
    }
    assert(param._1.nonEmpty && param._1 == plain._1)
    assert(param._2 == 2 && param._3 == 2)
    assert(param._2 == plain._2 && param._3 == plain._3)
    assert(param._4 == plain._4 && param._4 == 18)
    assert(plain._5 == 0 && param._5 > 0)
  }

  test("rand(seed) and round(x, scale) still plan and run") {
    val (plain, param) = arms { s =>
      SqlApi.queryLake(s, windowLog, "SELECT id, rand(7) AS r, " +
        "round(q * 2, 2) AS x FROM t WHERE round(q, 1) > 10.0 AND " +
        "rand(7) < 2.0 ORDER BY id")
    }(df => (df.collect().toSeq, params(df).size))
    assert(param._1 == plain._1 && param._1.size == 33)
    assert(plain._2 == 0 && param._2 > 0)
  }
}
