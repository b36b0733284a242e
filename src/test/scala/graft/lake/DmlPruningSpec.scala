package graft.lake

import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate}

import graft.SparkSpec
import graft.api.LakeSql
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Predicate-scoped writes prune their candidate files exactly as a read
  * filtered by the same predicate does ([[LakeTable.candidateFiles]]):
  * rich predicates touch only the files whose stats admit a match, and no
  * file holding a matching row is ever skipped. */
class DmlPruningSpec extends SparkSpec {
  import spark.implicits._

  /** Table "t" of `n` single-file inserts with disjoint id ranges:
    * file j holds ids 100·j + 1 … 100·j + 100. */
  private def disjoint(name: String, n: Int): LakeLog = {
    val log = new LakeLog(tmpDir(name))
    LakeTable.createTable(log, "t", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    (0 until n).foreach { j =>
      LakeTable.insert(spark, log, "t",
        (100L * j + 1 to 100L * j + 100).map(i => (i, i * 1.0))
          .toDF("id", "v"))
    }
    assert(log.snapshot("t").files.size == n)
    log
  }

  test("UPDATE … WHERE id BETWEEN inside one file rewrites that file") {
    val log = disjoint("upd-between", 3)
    val r = LakeTable.updateWhere(spark, log, "t",
      "id BETWEEN 120 AND 150", Seq("v" -> "v + 1000"))
    assert(r.filesRewritten == 1 && r.filesUntouched == 2, r.toString)
    assert(r.rowsUpdated == 31L)
    assert(LakeTable.read(spark, log, "t").filter($"v" > 1000)
      .as[(Long, Double)].collect().map(_._1).sorted.toSeq == (120L to 150L))
  }

  /** Data files of "t" whose id stats lie wholly outside [lo, hi]. */
  private def outside(log: LakeLog, lo: Long, hi: Long): Seq[FileAdd] =
    log.snapshot("t").files.filter { f =>
      val st = f.stats.get
      st.max_values("id").toLong < lo || st.min_values("id").toLong > hi
    }

  test("merge-on-read DELETE … WHERE id BETWEEN reads only the file in " +
      "range") {
    val log = disjoint("mor-between", 3)
    // the files out of range are moved away for the op: reading one fails
    val hidden = outside(log, 120, 150).map { f =>
      val p = Paths.get(f.path)
      p -> p.resolveSibling(p.getFileName.toString + ".hidden")
    }
    assert(hidden.size == 2)
    hidden.foreach { case (p, h) => Files.move(p, h) }
    val r = try LakeTable.deleteWhereMor(spark, log, "t",
        "id BETWEEN 120 AND 150")
      finally hidden.foreach { case (p, h) => Files.move(h, p) }
    assert(r.filesUntouched == 2 && r.filesWithDv == 1, r.toString)
    assert(r.rowsDeleted == 31L)
    assert(LakeTable.read(spark, log, "t").count() == 269L)
  }

  test("OPTIMIZE … WHERE a key range compacts only the files in range") {
    // a compaction group needs 3 files: five files, the middle three in
    // range
    val log = disjoint("opt-range", 5)
    val untouched = outside(log, 150, 350).map(_.path).toSet
    assert(untouched.size == 2)
    LakeSql.execute(spark, log,
      "OPTIMIZE t WHERE id >= 150 AND id <= 350")
    val after = log.snapshot("t").files.map(_.path).toSet
    assert(after.size == 3 && untouched.subsetOf(after), after.toString)
    assert(LakeTable.read(spark, log, "t").count() == 500L)
  }

  // ---- property: random predicates over every stat-pruned type ----

  private val typed = StructType(Seq(
    StructField("id", LongType), StructField("k", LongType),
    StructField("s", StringType), StructField("d", DateType),
    StructField("f", FloatType), StructField("g", DoubleType),
    StructField("ts", TimestampType), StructField("n", LongType)))
  private val predCols = Seq("k", "s", "d", "f", "g", "ts")
  private val day0 = LocalDate.parse("2024-01-01")
  private val ts0 = Instant.parse("2024-01-01T00:00:00Z")

  /** Grid point `i` of each column: file j holds the points 10·j … 10·j+7,
    * so every file's stats cover a tight, disjoint range. Float points sit
    * both above and below their decimal (0.1f > 0.1, 1.8f < 1.8). */
  private def point(i: Int): Map[String, Any] = Map(
    "k" -> i * 10L, "s" -> f"v$i%03d",
    "d" -> java.sql.Date.valueOf(day0.plusDays(i)),
    "f" -> ((i + 1) / 10f), "g" -> i * 0.1,
    "ts" -> java.sql.Timestamp.from(ts0.plusSeconds(i * 7L * 3600)))

  /** A literal for column `c` at grid point `i`, or just past it (a date
    * has no point between days). */
  private def literal(c: String, i: Int, off: Boolean): String = c match {
    case "k" => s"${i * 10L + (if (off) 5 else 0)}"
    case "s" => f"'v$i%03d${if (off) "x" else ""}'"
    case "d" => s"DATE'${day0.plusDays(i)}'"
    case "f" =>
      s"CAST('${(i + 1) / 10.0 + (if (off) 0.05 else 0)}' AS FLOAT)"
    case "g" => s"CAST('${i * 0.1 + (if (off) 0.05 else 0)}' AS DOUBLE)"
    case "ts" =>
      val t = ts0.plusSeconds(i * 7L * 3600 + (if (off) 1800 else 0))
      s"TIMESTAMP'${t.toString.replace('T', ' ').stripSuffix("Z")}'"
  }

  /** Half the literals land on or next to a file's min or max point. */
  private def literalGen(c: String): Gen[String] = for {
    i <- Gen.oneOf(Gen.choose(-2, 42), Gen.oneOf(
      (0 until 4).flatMap(j => Seq(10 * j, 10 * j + 7)).flatMap(b =>
        Seq(b - 1, b, b + 1))))
    off <- Gen.oneOf(false, true)
  } yield literal(c, i, off)

  private val atomGen: Gen[String] = for {
    c <- Gen.oneOf(predCols)
    a <- literalGen(c)
    b <- literalGen(c)
    e <- literalGen(c)
    op <- Gen.oneOf("=", "<", "<=", ">", ">=", "!=")
    kind <- Gen.frequency(6 -> 0, 1 -> 1, 1 -> 2, 1 -> 3)
  } yield kind match {
    case 0 => s"$c $op $a"
    case 1 => s"$a $op $c"
    case 2 => s"$c BETWEEN $a AND $b"
    case _ => s"$c IN ($a, $b, $e)"
  }

  private def predGen(depth: Int): Gen[String] =
    if (depth == 0) atomGen
    else Gen.frequency(2 -> atomGen, 1 -> (for {
      l <- predGen(depth - 1)
      r <- predGen(depth - 1)
      op <- Gen.oneOf("AND", "OR")
    } yield s"($l $op $r)"))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("property: no DML or OPTIMIZE candidate set drops a matching row") {
    val log = new LakeLog(tmpDir("prune-prop"))
    LakeTable.createTable(log, "t", typed)
    // four files written at +14 h, read under UTC; rows 3 of each file
    // carry NULLs in s and g
    val rows = (0 until 4).map { j =>
      val fileRows = (0 until 8).map { r =>
        val i = 10 * j + r
        val p = point(i)
        Row(i.toLong, p("k"), if (r == 3) null else p("s"), p("d"), p("f"),
          if (r == 3) null else p("g"), p("ts"), 0L)
      }
      val key = "spark.sql.session.timeZone"
      spark.conf.set(key, "Pacific/Kiritimati")
      val v = try LakeTable.insert(spark, log, "t", spark.createDataFrame(
          java.util.Arrays.asList(fileRows: _*), typed)).version
        finally spark.conf.set(key, "UTC")
      log.readEntry("t", v).adds.map(_.path) -> fileRows
    }
    assert(rows.forall(_._1.size == 1))
    val fileOf = rows.flatMap { case (Seq(path), rs) =>
      rs.map(_.getLong(0) -> path) }.toMap

    // soundness: every file holding a row where the predicate is TRUE is
    // a candidate (one job evaluates every predicate on the model rows)
    val preds = sample(Gen.listOfN(120, predGen(2)), 20261017L)
    val model = spark.createDataFrame(
      java.util.Arrays.asList(rows.flatMap(_._2): _*), typed)
    val hits = model.select(col("id") +: preds.map(p =>
      coalesce(expr(p), lit(false))): _*).collect()
    val snap = log.snapshot("t")
    var prunedSome = 0
    preds.zipWithIndex.foreach { case (p, i) =>
      val kept = LakeTable.candidateFiles(spark, snap, expr(p))
        .map(_.path).toSet
      val need = hits.filter(_.getBoolean(i + 1))
        .map(r => fileOf(r.getLong(0))).toSet
      assert(need.subsetOf(kept), s"'$p' dropped ${need -- kept}")
      if (kept.size < snap.files.size) prunedSome += 1
    }
    assert(prunedSome > preds.size / 4, s"only $prunedSome pruned")

    // DML results equal the unpruned model, op after op on one table
    var current = rows.flatMap(_._2)
    val ops = sample(Gen.listOfN(9, predGen(1)), 7L).zipWithIndex
    ops.foreach { case (p, step) =>
      val matched = spark.createDataFrame(
          java.util.Arrays.asList(current: _*), typed)
        .filter(coalesce(expr(p), lit(false))).select("id").as[Long]
        .collect().toSet
      step % 3 match {
        case 0 =>
          LakeTable.updateWhere(spark, log, "t", p, Seq("n" -> "n + 1"))
          current = current.map(r => if (!matched(r.getLong(0))) r
            else Row.fromSeq(r.toSeq.init :+ (r.getLong(7) + 1)))
        case 1 =>
          LakeTable.deleteWhere(spark, log, "t", p)
          current = current.filterNot(r => matched(r.getLong(0)))
        case _ =>
          LakeTable.deleteWhereMor(spark, log, "t", p)
          current = current.filterNot(r => matched(r.getLong(0)))
      }
      val got = LakeTable.read(spark, log, "t").collect()
        .map(_.toSeq).toSet
      assert(got == current.map(_.toSeq).toSet, s"step $step: '$p'")
    }
  }
}
