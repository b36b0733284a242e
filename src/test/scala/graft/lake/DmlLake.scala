package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The DML specs' lake: `src` (keys 0–599) and `t` (keys 0–199 in two
  * files), both of (id, cust, status, price) rows. */
trait DmlLake extends SparkSpec {

  protected val schema = StructType(Seq(StructField("id", LongType),
    StructField("cust", LongType), StructField("status", StringType),
    StructField("price", DoubleType)))

  protected def lake(name: String): LakeLog = {
    val log = new LakeLog(tmpDir(name))
    def rows(ks: Range) = spark.createDataFrame(spark.sparkContext
      .parallelize(ks.map(k => Row(k.toLong, k % 17L, "O", k * 1.25)), 1),
      schema)
    LakeTable.createTable(log, "src", schema)
    LakeTable.insert(spark, log, "src", rows(0 until 600))
    LakeTable.createTable(log, "t", schema)
    Seq(0 until 100, 100 until 200).foreach(ks =>
      LakeTable.insert(spark, log, "t", rows(ks)))
    log
  }
}
