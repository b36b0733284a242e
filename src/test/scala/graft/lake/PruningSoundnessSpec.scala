package graft.lake

import graft.SparkSpec
import graft.operators.QueryEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression tests for stat-comparison soundness: each case falsely
  * pruned (or duplicated) before the exact comparators landed. */
class PruningSoundnessSpec extends SparkSpec {
  import spark.implicits._

  private def fileWith(stats: Map[String, String]): FileAdd =
    FileAdd("f", 1, 1, stats = Some(FileStats(stats, stats)))

  /** The files of a one-file table of `schema` the DML pruner keeps. */
  private def prune(f: FileAdd, predicate: String,
                    schema: StructType): Seq[FileAdd] =
    LakeTable.candidateFiles(spark,
      Snapshot("t", 1, Some(LakeTable.fromStructType(schema)), Seq(f)),
      QueryEngine.parsePredicate(predicate))

  test("int64 beyond 2^53 compares exactly, not through a double") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val f = fileWith(Map("id" -> "9007199254740993")) // 2^53 + 1
    // both sides collapse to 2^53 as doubles; exact compare must keep it
    assert(prune(f, "id > 9007199254740992", schema).nonEmpty)
    assert(prune(f, "id = 9007199254740993", schema).nonEmpty)
    assert(prune(f, "id > 9007199254740993", schema)
      .isEmpty) // and exactness still prunes what it should
  }

  test("timestamp stats with trimmed fractional zeros match padded literals") {
    val schema = StructType(Seq(StructField("ts", TimestampType)))
    val f = fileWith(Map("ts" -> "2024-01-01 00:00:00.5"))
    assert(prune(f, "ts = 2024-01-01T00", schema)
      .nonEmpty) // unparseable literal → conservative keep
    // semantically equal, lexicographically unequal — must keep (quoted:
    // unquoted, the literal is two tokens and no op parses the predicate)
    val kept = prune(fileWith(Map("ts" -> "2024-01-01 00:00:00.5")),
      "ts = '2024-01-01 00:00:00.500000'", schema)
    assert(kept.nonEmpty)
  }

  test("string comparison is code-point order, like Spark's binary UTF-8") {
    // U+10000 (surrogate pair, UTF-16 units start 0xD800) vs U+E000:
    // compareTo says supplementary < U+E000; code-point order says greater
    val supp = new String(Character.toChars(0x10000))
    assert(StatCompare.codePoints(supp, "") > 0)
    assert("𐀀".compareTo("") < 0) // the trap this fixes
    val schema = StructType(Seq(StructField("s", StringType)))
    val f = fileWith(Map("s" -> supp))
    assert(prune(f, "s > ", schema).nonEmpty)
  }

  test("float literals compare with float stats as the promoted double") {
    // the stat is the exact decimal of 0.3f as a double (0.30000001…);
    // the literal must render the same way, not as Float.toString's "0.3"
    val log = new LakeLog(tmpDir("floatlit"))
    LakeTable.createTable(log, "t",
      StructType(Seq(StructField("x", FloatType))))
    LakeTable.insert(spark, log, "t", Seq(0.3f, 0.3f).toDF("x"))
    val df = LakeTable.readIndexed(spark, log, "t")
    assert(df.filter(col("x") === lit(0.3f)).count() == 2)
    assert(df.filter(col("x") <= lit(0.3f)).count() == 2)
  }

  test("upsert with whitespace-bearing string keys does not duplicate rows") {
    val log = new LakeLog(tmpDir("wskeys"))
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType)))
    LakeTable.createTable(log, "t", schema)
    LakeTable.insert(spark, log, "t",
      Seq((" x", 1.0), ("y z", 2.0)).toDF("k", "v"))
    // the stringified key-range predicate would tokenize-mangle " x" and
    // could prune the file holding the old row → silent duplicate key
    LakeTable.upsert(spark, log, "t", Seq((" x", 9.0)).toDF("k", "v"), "k")
    val rows = LakeTable.read(spark, log, "t").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows == Map(" x" -> 9.0, "y z" -> 2.0))
    assert(LakeTable.read(spark, log, "t").count() == 2)
  }

  test("schema evolution cannot tighten nullability over existing files") {
    val log = new LakeLog(tmpDir("nulltight"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType,
        nullable = true)))
    LakeTable.createTable(log, "t", schema)
    val evolved = TableSchema(Seq(
      Field("id", "int64"), Field("v", "float64", nullable = false)))
    assertThrows[LakeValidationException] {
      log.evolveSchema("t", evolved, "txn-tighten")
    }
  }
}
