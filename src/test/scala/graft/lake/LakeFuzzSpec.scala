package graft.lake

import graft.SparkSpec
import graft.operators.QueryEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-based fuzzing of the lake: a random sequence of inserts, deletes,
  * upserts and compactions runs against both the real LakeTable and an
  * in-memory model (a Map of rows); after every operation the table must
  * equal the model, and a randomly chosen historical version must equal the
  * model's snapshot taken at that version. Catches cross-operation
  * interactions no single-op spec covers.
  */
class LakeFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", DoubleType)))

  test("random op sequences: table == model at head and at history") {
    val rnd = new scala.util.Random(31)
    // random checkpoint cadence: the fuzz must hold at ANY interval,
    // including mid-scenario checkpoints and none at all
    val log = new LakeLog(tmpDir("fuzz"), checkpointInterval = rnd.nextInt(5))
    LakeTable.createTable(log, "t", schema)
    var model = Map.empty[Long, Double]
    // version -> model state; version 0 means "latest" in reads (reference
    // GetSnapshot semantics), so it is not an addressable history point
    var historyModels = Map.empty[Long, Map[Long, Double]]
    var nextId = 0L
    // the value column's CURRENT logical name — the rename arm flips it,
    // so every later arm (and every later read of pre-rename files)
    // exercises live column mapping
    var valCol = "v"

    def tableRows(): Map[Long, Double] =
      LakeTable.read(spark, log, "t").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    (1 to 16).foreach { step =>
      rnd.nextInt(7) match {
        case 0 | 1 => // insert a fresh batch
          val n = 1 + rnd.nextInt(50)
          val rows = (0 until n).map { _ =>
            nextId += 1; (nextId, math.round(rnd.nextDouble() * 1e4) / 100.0) }
          LakeTable.insert(spark, log, "t", rows.toDF("id", valCol),
            numFiles = 1 + rnd.nextInt(3))
          model = model ++ rows.toMap
        case 2 if model.nonEmpty => // delete a random id range
          val ids = model.keys.toSeq.sorted
          val cut = ids(rnd.nextInt(ids.size))
          LakeTable.deleteWhere(spark, log, "t", s"id > $cut")
          model = model.filter(_._1 <= cut)
        case 6 if model.nonEmpty => // merge-on-read delete (DV, no rewrite)
          // interleaving DVs with the UPDATE/upsert/compact arms is the
          // interaction class where the updateWhere empty-rewrite bug
          // lived — a fully-DV-deleted file hit by a later rewrite arm
          val ids = model.keys.toSeq.sorted
          val cut = ids(rnd.nextInt(ids.size))
          LakeTable.deleteWhereMor(spark, log, "t", s"id > $cut")
          model = model.filter(_._1 <= cut)
        case 3 if model.nonEmpty => // upsert: mutate some ids + add one new
          val picks = model.keys.take(1 + rnd.nextInt(3)).toSeq
          nextId += 1
          val ups = picks.map(id => (id, -1.0)) :+ ((nextId, -2.0))
          LakeTable.upsert(spark, log, "t", ups.toDF("id", valCol), "id")
          model = model ++ ups.toMap
        case 4 if model.nonEmpty => // UPDATE a random id range
          val ids = model.keys.toSeq.sorted
          val cut = ids(rnd.nextInt(ids.size))
          LakeTable.updateWhere(spark, log, "t", s"id <= $cut",
            Seq(valCol -> s"$valCol + 1000"))
          model = model.map { case (id, v) =>
            id -> (if (id <= cut) v + 1000 else v) }
        case 5 => // metadata-only rename of the value column
          val next = if (valCol == "v") "w" else "v"
          log.renameColumn("t", valCol, next, s"fuzz-ren-$step")
          valCol = next
        case _ => // compact (no logical change)
          LakeTable.compact(spark, log, "t", force = true)
      }
      val version = log.latestVersion("t")
      if (version > 0) historyModels += version -> model
      assert(tableRows() == model, s"step $step head mismatch")
      // spot-check one random historical version
      if (historyModels.nonEmpty) {
        val (hv, hmodel) = historyModels.toSeq(
          rnd.nextInt(historyModels.size))
        val got = LakeTable.read(spark, log, "t", hv).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got == hmodel, s"step $step: version $hv mismatch")
      }
    }
    // the full log replays deterministically in a fresh reader
    val fresh = new LakeLog(log.root)
    assert(fresh.snapshot("t") == log.snapshot("t"))
  }

  test("declared blooms: point lookups match the model across random ops") {
    // same op mix, bloom index declared on id: after every operation the
    // bloom-pruned point-lookup path (readIndexed + equality filter) must
    // agree with the model for present AND absent keys — across inserts,
    // copy-on-write deletes/upserts and compactions that all REBUILD the
    // declared blooms
    val rnd = new scala.util.Random(53)
    val log = new LakeLog(tmpDir("fuzzbloom"))
    LakeTable.createTable(log, "t", schema, bloomFilterCols = Seq("id"))
    var model = Map.empty[Long, Double]
    var nextId = 0L

    (1 to 10).foreach { step =>
      rnd.nextInt(4) match {
        case 0 | 1 =>
          val n = 1 + rnd.nextInt(40)
          val rows = (0 until n).map { _ =>
            nextId += 1; (nextId, math.round(rnd.nextDouble() * 1e4) / 100.0) }
          LakeTable.insert(spark, log, "t", rows.toDF("id", "v"),
            numFiles = 1 + rnd.nextInt(3))
          model = model ++ rows.toMap
        case 2 if model.nonEmpty =>
          val ids = model.keys.toSeq.sorted
          val cut = ids(rnd.nextInt(ids.size))
          LakeTable.deleteWhere(spark, log, "t", s"id > $cut")
          model = model.filter(_._1 <= cut)
        case 3 if model.nonEmpty =>
          val picks = model.keys.take(1 + rnd.nextInt(3)).toSeq
          nextId += 1
          val ups = picks.map(id => (id, -1.0)) :+ ((nextId, -2.0))
          LakeTable.upsert(spark, log, "t", ups.toDF("id", "v"), "id")
          model = model ++ ups.toMap
        case _ =>
          LakeTable.compact(spark, log, "t", force = true)
      }
      // every live file carries the declared bloom after every op
      assert(log.snapshot("t").files.forall(
        _.stats.exists(_.blooms.exists(_.contains("id")))),
        s"step $step: a file lost its declared bloom")
      // point probes: 2 present keys, 1 deleted/never-present key
      val present = model.keys.take(2)
      val absent = Seq(nextId + 1000 + step)
      (present ++ absent).foreach { k =>
        val got = LakeTable.readIndexed(spark, log, "t")
          .filter(col("id") === k).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got == model.filter(_._1 == k).toMap,
          s"step $step probe $k")
      }
    }
  }

  test("partitioned tables: random op sequences (incl. restore) == model") {
    val rnd = new scala.util.Random(77)
    val schemaP = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("part", StringType),
      StructField("v", DoubleType)))
    val parts = Seq("alpha", "beta", "ga=mma") // incl. a path-hostile value
    val log = new LakeLog(tmpDir("fuzzpart"))
    LakeTable.createTable(log, "t", schemaP, partitionBy = Seq("part"))
    var model = Map.empty[Long, (String, Double)]
    var historyModels = Map.empty[Long, Map[Long, (String, Double)]]
    var nextId = 0L

    def tableRows(): Map[Long, (String, Double)] =
      LakeTable.read(spark, log, "t").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

    (1 to 14).foreach { step =>
      rnd.nextInt(7) match {
        case 0 | 1 => // insert across random partitions
          val n = 1 + rnd.nextInt(40)
          val rows = (0 until n).map { _ =>
            nextId += 1
            (nextId, parts(rnd.nextInt(parts.size)),
              math.round(rnd.nextDouble() * 1e4) / 100.0) }
          LakeTable.insert(spark, log, "t", rows.toDF("id", "part", "v"))
          model = model ++ rows.map(r => r._1 -> (r._2, r._3))
        case 2 if model.nonEmpty => // partition-predicate delete
          val p = parts(rnd.nextInt(parts.size))
          LakeTable.deleteWhere(spark, log, "t", s"part = $p")
          model = model.filter(_._2._1 != p)
        case 3 if model.nonEmpty => // data-predicate delete
          val ids = model.keys.toSeq.sorted
          val cut = ids(rnd.nextInt(ids.size))
          LakeTable.deleteWhere(spark, log, "t", s"id > $cut")
          model = model.filter(_._1 <= cut)
        case 4 if model.nonEmpty => // upsert: move a row across partitions
          val id = model.keys.head
          nextId += 1
          val ups = Seq((id, parts((parts.indexOf(model(id)._1) + 1) % parts.size), -1.0),
            (nextId, parts(rnd.nextInt(parts.size)), -2.0))
          LakeTable.upsert(spark, log, "t", ups.toDF("id", "part", "v"), "id")
          model = model ++ ups.map(r => r._1 -> (r._2, r._3))
        case 5 if historyModels.nonEmpty => // restore to a random version
          val (hv, hmodel) = historyModels.toSeq(rnd.nextInt(historyModels.size))
          LakeTable.restore(log, "t", hv)
          model = hmodel
        case 6 => // atomic predicate-scoped overwrite of one partition
          val p = parts(rnd.nextInt(parts.size))
          val n = 1 + rnd.nextInt(10)
          val rows = (0 until n).map { _ =>
            nextId += 1
            (nextId, p, math.round(rnd.nextDouble() * 1e4) / 100.0) }
          LakeTable.replaceWhere(spark, log, "t", s"part = $p",
            rows.toDF("id", "part", "v"))
          model = model.filter(_._2._1 != p) ++
            rows.map(r => r._1 -> (r._2, r._3))
        case _ =>
          LakeTable.compact(spark, log, "t", force = true)
      }
      val version = log.latestVersion("t")
      if (version > 0) historyModels += version -> model
      assert(tableRows() == model, s"step $step head mismatch")
    }
    val fresh = new LakeLog(log.root)
    assert(fresh.snapshot("t") == log.snapshot("t"))
  }

  test("materialized view fuzz: MV == model aggregate at every refresh") {
    import MaterializedView.MvDef
    val rnd = new scala.util.Random(53)
    val schemaC = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cat", StringType),
      StructField("v", DoubleType)))
    val cats = Seq("x", "y", "z")
    val log = new LakeLog(tmpDir("fuzzmv"))
    LakeTable.createTable(log, "t", schemaC)
    val d = MvDef("t_by_cat", "t", "cat", Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"))
    MaterializedView.create(log, d)
    var model = Map.empty[Long, (String, Double)]
    var nextId = 0L

    def mvRows(): Map[String, (Long, Double, Double, Double)] =
      LakeTable.read(spark, log, d.name)
        .select("cat", "n_rows", "sum_v", "min_v", "max_v").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
    // integer-valued doubles: sums are order-independent and exact, so the
    // model comparison needs no epsilon; min/max stress the monotone-merge
    // path on appends and the full-recompute recovery after delete/upsert
    def modelAgg(): Map[String, (Long, Double, Double, Double)] =
      model.values.groupBy(_._1).map { case (c, vs) =>
        c -> (vs.size.toLong, vs.map(_._2).sum,
          vs.map(_._2).min, vs.map(_._2).max) }

    (1 to 14).foreach { step =>
      rnd.nextInt(5) match {
        case 0 | 1 => // append (the incremental path's bread and butter)
          val rows = (0 until 1 + rnd.nextInt(30)).map { _ =>
            nextId += 1
            (nextId, cats(rnd.nextInt(cats.size)), rnd.nextInt(100).toDouble) }
          LakeTable.insert(spark, log, "t", rows.toDF("id", "cat", "v"),
            numFiles = 1 + rnd.nextInt(2))
          model ++= rows.map(r => r._1 -> (r._2, r._3))
        case 2 if model.nonEmpty => // delete → full-recompute fallback
          val ids = model.keys.toSeq.sorted
          val cut = ids(rnd.nextInt(ids.size))
          LakeTable.deleteWhere(spark, log, "t", s"id > $cut")
          model = model.filter(_._1 <= cut)
        case 3 if model.nonEmpty => // upsert → full-recompute fallback
          val picks = model.keys.take(1 + rnd.nextInt(2)).toSeq
          nextId += 1
          val ups = picks.map(id => (id, cats(rnd.nextInt(cats.size)), 7.0)) :+
            ((nextId, cats(rnd.nextInt(cats.size)), 9.0))
          LakeTable.upsert(spark, log, "t", ups.toDF("id", "cat", "v"), "id")
          model ++= ups.map(r => r._1 -> (r._2, r._3))
        case _ => // layout-only: must not perturb the MV's delta accounting
          LakeTable.compact(spark, log, "t", force = true)
      }
      // refresh at a random cadence so deltas span 1..several versions,
      // mixing append-only and fallback-triggering entries in one delta
      if (rnd.nextInt(3) != 0) {
        MaterializedView.refresh(spark, log, d)
        assert(mvRows() == modelAgg(), s"step $step MV mismatch")
      }
    }
    MaterializedView.refresh(spark, log, d)
    assert(mvRows() == modelAgg(), "final MV mismatch")
  }

  test("schema evolution fuzz: widen/add interleaved with ops == model") {
    // random inserts/deletes/compactions interleaved with ONE-TIME schema
    // evolutions (widen n int32→int64, widen x float32→float64, add note):
    // after every op the table equals the model under the schema current
    // at that moment, historical versions replay under THEIR schema, and
    // stat-pruned reads stay exact across the float widening. The model
    // stores what the TABLE stores: pre-widen x is the inserted double
    // rounded through Float (the reader later promotes it losslessly).
    val rnd = new scala.util.Random(93)
    val log = new LakeLog(tmpDir("fuzzevo"))
    LakeTable.createTable(log, "t", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType),
      StructField("x", FloatType))))
    var model = Map.empty[Long, (Long, Double, Option[String])]
    var historyModels = Map.empty[Long, Map[Long, (Long, Double)]]
    var nWidened = false; var xWidened = false; var noteAdded = false
    var nextId = 0L

    def curSchema() = log.snapshot("t").schema.get
    def insertBatch(step: Int): Unit = {
      val rows = (0 until 1 + rnd.nextInt(20)).map { _ =>
        nextId += 1
        val n = rnd.nextInt(1000).toLong
        val raw = rnd.nextInt(100000) / 100.0
        val x = if (xWidened) raw else raw.toFloat.toDouble
        val note = if (noteAdded) Some(s"s$step") else None
        (nextId, n, x, note)
      }
      val st = LakeTable.toStructType(curSchema())
      val df = rows.map(r => (r._1, r._2, r._3, r._4.orNull))
        .toDF("id", "n", "x", "note")
        .select(st.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      LakeTable.insert(spark, log, "t", df)
      model ++= rows.map(r => r._1 -> (r._2, r._3, r._4))
    }
    def tableRows(): Map[Long, (Long, Double, Option[String])] = {
      val df = LakeTable.read(spark, log, "t")
      val hasNote = df.columns.contains("note")
      df.collect().map { r =>
        r.getAs[Number]("id").longValue() -> (
          r.getAs[Number]("n").longValue(),
          r.getAs[Number]("x").doubleValue(),
          if (hasNote) Option(r.getAs[String]("note")) else None)
      }.toMap
    }

    (1 to 14).foreach { step =>
      rnd.nextInt(6) match {
        case 0 | 1 => insertBatch(step)
        case 2 if model.nonEmpty =>
          val ids = model.keys.toSeq.sorted
          val cut = ids(rnd.nextInt(ids.size))
          LakeTable.deleteWhere(spark, log, "t", s"id > $cut")
          model = model.filter(_._1 <= cut)
        case 3 if !nWidened || !xWidened || !noteAdded =>
          // apply one pending evolution, chosen by whichever is first
          val fields = curSchema().fields.map { f =>
            if (f.name == "n" && !nWidened) f.copy(`type` = "int64")
            else if (f.name == "x" && nWidened && !xWidened)
              f.copy(`type` = "float64")
            else f
          }
          val withNote =
            if (nWidened && xWidened && !noteAdded)
              fields :+ Field("note", "string", nullable = true)
            else fields
          log.evolveSchema("t", TableSchema(withNote), s"evo-$step")
          if (!nWidened) nWidened = true
          else if (!xWidened) xWidened = true
          else noteAdded = true
        case _ =>
          LakeTable.compact(spark, log, "t", force = true)
      }
      val version = log.latestVersion("t")
      if (version > 0)
        historyModels += version -> model.map { case (k, (n, x, _)) =>
          k -> (n, x) }
      // pre-note rows surface note as null under the evolved schema
      val expect = model.map { case (k, (n, x, note)) =>
        k -> (n, x, if (noteAdded) note.orElse(None) else None) }
      assert(tableRows() == expect, s"step $step head mismatch")
      if (historyModels.nonEmpty) {
        val (hv, hmodel) = historyModels.toSeq(rnd.nextInt(historyModels.size))
        val got = LakeTable.read(spark, log, "t", hv).collect().map { r =>
          r.getAs[Number]("id").longValue() -> (
            r.getAs[Number]("n").longValue(),
            r.getAs[Number]("x").doubleValue())
        }.toMap
        assert(got == hmodel, s"step $step: version $hv mismatch")
      }
      // stat-pruned point-range probe stays exact across widenings
      if (model.nonEmpty) {
        val probe = model.values.map(_._2).toSeq.sorted.apply(
          rnd.nextInt(model.size))
        val got = LakeTable.readIndexed(spark, log, "t")
          .filter(QueryEngine.parsePredicate(s"x > $probe")).count()
        assert(got == model.values.count(_._2 > probe),
          s"step $step: pruned x > $probe mismatch")
      }
    }
    val fresh = new LakeLog(log.root)
    assert(fresh.snapshot("t") == log.snapshot("t"))
  }

  test("constrained table fuzz: rejects leave no trace, accepts match model") {
    val rnd = new scala.util.Random(47)
    val log = new LakeLog(tmpDir("fuzzcheck"))
    LakeTable.createTable(log, "t", schema,
      constraints = Map("v_nonneg" -> "v >= 0"))
    var model = Map.empty[Long, Double]
    var nextId = 0L
    def tableRows(): Map[Long, Double] =
      LakeTable.read(spark, log, "t").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    (1 to 14).foreach { step =>
      // ~10% of values violate v >= 0, so batches mix clean and dirty
      def value(): Double = (rnd.nextInt(100) - 10).toDouble
      val prevVersion = log.latestVersion("t")
      if (model.isEmpty || rnd.nextBoolean()) {
        val rows = (0 until 1 + rnd.nextInt(5)).map { _ =>
          nextId += 1; (nextId, value()) }
        val valid = rows.forall(_._2 >= 0)
        try {
          LakeTable.insert(spark, log, "t", rows.toDF("id", "v"))
          assert(valid, s"step $step: invalid insert was accepted")
          model ++= rows.toMap
        } catch {
          case _: LakeValidationException =>
            assert(!valid, s"step $step: valid insert was rejected")
            assert(log.latestVersion("t") == prevVersion)
        }
      } else {
        val ups = Seq((model.keys.head, value()))
        try {
          LakeTable.upsert(spark, log, "t", ups.toDF("id", "v"), "id")
          assert(ups.forall(_._2 >= 0),
            s"step $step: invalid upsert was accepted")
          model ++= ups.toMap
        } catch {
          case _: LakeValidationException =>
            assert(ups.exists(_._2 < 0),
              s"step $step: valid upsert was rejected")
            assert(log.latestVersion("t") == prevVersion)
        }
      }
      assert(tableRows() == model, s"step $step state mismatch")
    }
    assert(tableRows().values.forall(_ >= 0))
  }
}
