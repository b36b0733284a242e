package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.api.{LakeSql, QueryApi, SqlApi}
import graft.lake.{FileAdd, LakeLog, LakeTable}

/** The benchmark's JVM program: one client thread, closed loop. It reads a
  * plan written by run.py (the generated statements and input files),
  * sets the workload up `setup_reps` times, runs the untimed warm-up ops,
  * then the timed ops until `seconds` have passed, and writes every op's
  * interval, outcome and result to `result.json`. Output checks happen in
  * run.py against independent computations.
  *
  * Usage: perfbench.Main <plan.json> */
object Main {
  val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Epoch milliseconds with sub-millisecond resolution: listener events
    * carry epoch-ms times, so op intervals use the same clock. */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final class OpRec(val idx: Int, val id: String, val kind: String,
                    val warm: Boolean) {
    var t0, t1 = 0.0
    var ok = true
    var err = ""
    var api0, api1 = 0.0
    var result: Any = null
    val extra = mutable.LinkedHashMap.empty[String, Any]
    def toMap: Map[String, Any] = Map("idx" -> idx, "id" -> id,
      "kind" -> kind, "warm" -> warm, "t0" -> t0, "t1" -> t1,
      "ms" -> (t1 - t0), "ok" -> ok, "err" -> err, "api0" -> api0,
      "api1" -> api1, "result" -> result, "extra" -> extra.toMap)
  }

  /** JSON-safe cell value; timestamps as epoch microseconds. */
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.lang.Double => if (d.isNaN || d.isInfinite) d.toString else d
    case f: java.lang.Float => f.toDouble
    case b: java.math.BigDecimal => b.doubleValue
    case n: java.lang.Number => n.longValue
    case b: java.lang.Boolean => b
    case t: java.sql.Timestamp => t.getTime * 1000 + (t.getNanos / 1000) % 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000 + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      cell(t.toInstant(java.time.ZoneOffset.UTC))
    case other => other.toString
  }

  def writeCheck(out: Path, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite")
      .parquet(out.resolve("check").resolve(name).toString)

  def rowsJson(df: DataFrame, rows: Array[Row]): Map[String, Any] =
    Map("columns" -> df.columns.toSeq,
      "rows" -> rows.toSeq.map(r => (0 until r.length).map(i => cell(r.get(i)))))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally w.close()
    }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val work = Paths.get(plan.get("work_dir").asText())
    val out = Paths.get(plan.get("out_dir").asText())
    Files.createDirectories(out.resolve("check"))
    val trace = plan.get("trace").asBoolean()
    val cpus = plan.get("cpus").asInt()
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer
    if (trace) {
      spark.sparkContext.addSparkListener(tracer.sparkListener)
      spark.listenerManager.register(tracer.queryListener)
      spark.streams.addListener(tracer.streamListener)
    }

    val wl: Workload = plan.get("workload").asText() match {
      case "lake_query" => new LakeQuery(spark, plan, work)
      case "lake_dml" => new LakeDml(spark, plan, work)
      case "stream_ingest" => new StreamIngest(spark, plan, work)
      case "operator_suite" => new OperatorSuite(spark, plan, work)
    }

    val reps = plan.get("setup_reps").asInt()
    val repS = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val ops = plan.get("ops").elements().asScala.toIndexedSeq
    val nWarm = plan.get("warmup").asInt()
    val recs = mutable.ArrayBuffer.empty[OpRec]
    def runOne(i: Int, warm: Boolean): OpRec = {
      val op = ops(i)
      val rec = new OpRec(i, op.get("id").asText(), op.get("kind").asText(), warm)
      wl.beforeOp(op)
      rec.t0 = nowMs
      try wl.run(op, rec)
      catch { case e: Throwable =>
        rec.ok = false
        rec.err = (e.getClass.getSimpleName + ": " + e.getMessage).take(500)
      }
      rec.t1 = nowMs
      wl.afterOp(rec)
      recs += rec
      rec
    }
    val warmT0 = System.nanoTime()
    (0 until math.min(nWarm, ops.size)).foreach(runOne(_, warm = true))
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + repS.sorted.apply(reps / 2) + warmS

    // the timed window: `seconds`, then to the end of the cycle of the mix
    // in progress, so every run times whole cycles and weighs the op kinds
    // alike. A traced run traces the second `trace_ops` timed ops (a full
    // cycle at fixed positions, so counters repeat for a seed) and runs the
    // cycles around it untraced to price the tracing
    val seconds = plan.get("seconds").asDouble()
    val cycle = plan.get("cycle").asInt()
    val traceOps = plan.get("trace_ops").asInt()
    def isTraced(t: Int) = trace && t >= traceOps && t < 2 * traceOps
    val probe = wl.lakeLog.map(l => new LakeProbe(l))
    val lakePerOp = mutable.ArrayBuffer.empty[Map[String, Any]]
    var lakeGauges: Map[String, Any] = Map.empty
    val winT0 = System.nanoTime()
    val deadline = winT0 + (seconds * 1e9).toLong
    var i = nWarm
    var timed = 0
    while (i < ops.size && (System.nanoTime() < deadline ||
           timed % cycle != 0 || (trace && timed < 2 * traceOps))) {
      val traced = isTraced(timed)
      if (traced && timed == traceOps) {
        probe.foreach(_.sync())
        tracer.enabled = true
      }
      val before = if (traced) probe.map(_.counters()) else None
      val rec = runOne(i, warm = false)
      if (traced) {
        rec.extra("traced") = true
        probe.foreach { p =>
          val d = p.advance(before.get)
          lakePerOp += d ++ Map("idx" -> rec.idx, "t" -> nowMs,
            "snapshot_probe_ms" -> p.coldSnapshotMs())
        }
        if (!isTraced(timed + 1)) {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          tracer.enabled = false
          lakeGauges = probe.map(_.gauges()).getOrElse(Map.empty)
        }
      }
      timed += 1
      i += 1
    }
    val windowS = (System.nanoTime() - winT0) / 1e9
    val exhausted = i >= ops.size
    val finish = wl.finish(out, recs.toSeq)
    val result = Map(
      "session_s" -> sessionS, "setup_rep_s" -> repS, "warmup_s" -> warmS,
      "setup_s" -> setupS, "window_s" -> windowS, "ops_exhausted" -> exhausted,
      "peak_rss_mb" -> vmHwmMb(), "ops" -> recs.map(_.toMap).toSeq,
      "finish" -> finish)
    Files.writeString(out.resolve("result.json"),
      mapper.writeValueAsString(result))
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Files.writeString(out.resolve("trace.json"), mapper.writeValueAsString(
        tracer.toJson ++ Map("lake_ops" -> lakePerOp.toSeq,
          "lake_gauges" -> lakeGauges)))
    }
    spark.stop()
  }
}

/** One workload: set-up (repeatable into fresh state), the per-op call,
  * and the untimed dumps run.py checks. */
abstract class Workload(val spark: SparkSession, val plan: JsonNode,
                        val work: Path) {
  val sfDir: String = plan.get("sf_dir").asText()
  def setup(rep: Int): Unit
  def beforeOp(op: JsonNode): Unit = ()
  def run(op: JsonNode, rec: Main.OpRec): Unit
  /** Untimed bookkeeping right after an op's interval closes. */
  def afterOp(rec: Main.OpRec): Unit = ()
  def finish(out: Path, recs: Seq[Main.OpRec]): Map[String, Any] = Map.empty
  def lakeLog: Option[LakeLog] = None

  def files(key: String): Seq[String] =
    plan.get(key).elements().asScala.map(_.asText()).toSeq

  /** Seed a lake table from parquet slices, one commit per slice, through
    * graft's concurrent-staging insert. */
  def seed(log: LakeLog, table: String, slices: Seq[String]): Unit = {
    val dfs = slices.map(f => spark.read.parquet(f))
    LakeTable.createTable(log, table, dfs.head.schema)
    LakeTable.insertAll(spark, log, table,
      dfs.zipWithIndex.map { case (df, i) => (df, s"seed-$table-$i") })
  }

  /** Bytes of data files (and deletion-vector sidecars) that commits after
    * `afterVersion` added for the first time. */
  def bytesAdded(log: LakeLog, table: String, afterVersion: Long): Long = {
    val seen = mutable.HashSet.empty[String]
    var bytes = 0L
    log.versions(table).foreach { v =>
      log.readEntry(table, v).adds.foreach { a =>
        if (seen.add(a.path) && v > afterVersion) bytes += a.size
        a.dv.foreach { d =>
          if (seen.add(d.path) && v > afterVersion) {
            val p = Paths.get(d.path)
            if (Files.exists(p)) bytes += Files.size(p)
          }
        }
      }
    }
    bytes
  }
}

/** Reads over a lake seeded from date-ordered slices: every op goes
  * through LakeSql.execute, SqlApi.queryLake or QueryApi.runLake, or is
  * one SparkEntry operator query, and is timed until its rows are
  * collected. */
final class LakeQuery(s: SparkSession, p: JsonNode, w: Path)
    extends Workload(s, p, w) {
  var log: LakeLog = _
  private val operators = new OperatorQueries(spark, sfDir)
  override def lakeLog: Option[LakeLog] = Option(log)
  def setup(rep: Int): Unit = {
    log = new LakeLog(work.resolve(s"lake$rep"))
    seed(log, "lineitem", files("lineitem_slices"))
    seed(log, "orders", files("orders_slices"))
    seed(log, "customer", files("customer_slices"))
  }
  def run(op: JsonNode, rec: Main.OpRec): Unit = {
    val text = op.get("text").asText()
    val api = op.get("api").asText()
    if (api == "operator") operators.run(text, rec)
    else {
      rec.api0 = Main.nowMs
      val df = api match {
        case "lakesql" => LakeSql.execute(spark, log, text)
        case "sql" => SqlApi.queryLake(spark, log, text)
        case "json" => QueryApi.runLake(spark, log, text)
      }
      rec.api1 = Main.nowMs
      rec.result = Main.rowsJson(df, df.collect())
    }
  }
  override def finish(out: Path, recs: Seq[Main.OpRec]): Map[String, Any] =
    operators.finish(out)
}

/** A writer sequence on an orders-derived table, every statement through
  * LakeSql.execute and timed until its version is committed, with one
  * micro-batch of the per-user aggregate stream sink (`batch` ops) into
  * another table of the same lake per cycle. */
final class LakeDml(s: SparkSession, p: JsonNode, w: Path)
    extends Workload(s, p, w) {
  var log: LakeLog = _
  var sinks: EventSinks = _
  var agg: Option[StreamingQuery] = None
  var seededVersion = 0L
  override def lakeLog: Option[LakeLog] = Option(log)
  def setup(rep: Int): Unit = {
    log = new LakeLog(work.resolve(s"lake$rep"))
    seed(log, "orders_src", files("src_slices"))
    seed(log, "ord", files("init_slices"))
    seededVersion = log.latestVersion("ord")
    sinks = new EventSinks(spark, log, work.resolve(s"stream$rep"), 0L)
    sinks.create("agg")
  }
  override def beforeOp(op: JsonNode): Unit =
    if (op.get("kind").asText() == "batch" && agg.isEmpty)
      agg = Some(sinks.start("agg"))
  // no api span: a DML statement does all its work inside the call, so
  // its driver time belongs to the lake layers, not to dispatch
  def run(op: JsonNode, rec: Main.OpRec): Unit = rec.kind match {
    case "batch" => rec.extra("chunk_bytes") =
      sinks.feed("agg", agg.get, Paths.get(op.get("chunk").asText()))
    case _ => LakeSql.execute(spark, log, op.get("text").asText()).collect()
  }
  override def afterOp(rec: Main.OpRec): Unit =
    if (rec.kind != "batch") rec.extra("version") = log.latestVersion("ord")
  override def finish(out: Path, recs: Seq[Main.OpRec]): Map[String, Any] = {
    agg.foreach(_.stop())
    agg = None
    Main.writeCheck(out, "ev_agg", LakeTable.read(spark, log, "ev_agg"))
    // the final table and two earlier versions, for the model check
    val done = recs.filter(r => r.ok && r.kind != "batch")
    val picks = Seq(done.size / 3, (2 * done.size) / 3, done.size - 1)
      .filter(_ >= 0).distinct.map(done(_))
    val checks = picks.map { r =>
      val v = r.extra("version").asInstanceOf[Long]
      Main.writeCheck(out, s"ord_v$v", LakeTable.read(spark, log, "ord", v))
      Map("after_op" -> r.idx, "version" -> v, "name" -> s"ord_v$v")
    }
    val added = bytesAdded(log, "ord", seededVersion)
    LakeSql.execute(spark, log, "VACUUM ord RETAIN 1 VERSIONS").collect()
    val snap = log.snapshot("ord")
    val referenced = snap.files.map(_.size).sum +
      snap.files.flatMap(_.dv.map(_.path)).distinct
        .map(p => Files.size(Paths.get(p))).sum
    Map("checks" -> checks, "bytes_added" -> added,
      "table_dir_bytes" -> Main.treeBytes(log.tableDir("ord")),
      "referenced_bytes" -> referenced)
  }
}

/** graft's stream sinks of events chunk files into lake tables: `raw`
  * (append), `agg` (per-user keyed upsert) and `late` (on-time/late split
  * plus a watermark table). A sink's query reads the chunk files moved into
  * its own input directory; feeding one chunk is one micro-batch. */
final class EventSinks(spark: SparkSession, log: LakeLog, root: Path,
                       latenessMs: Long) {
  val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val tables: Map[String, Seq[String]] = Map("raw" -> Seq("ev_raw"),
    "agg" -> Seq("ev_agg"), "late" -> Seq("ev_ontime", "ev_late", "ev_wm"))

  def create(sink: String): Unit = {
    sink match {
      case "raw" => LakeTable.createTable(log, "ev_raw", schema)
      case "agg" => LakeTable.createTable(log, "ev_agg", StructType(Seq(
        StructField("user_id", LongType), StructField("n", LongType),
        StructField("vmax", DoubleType), StructField("last_ts", TimestampType))))
      case "late" =>
        LakeTable.createTable(log, "ev_ontime", schema)
        LakeTable.createTable(log, "ev_late", schema)
        LakeTable.createTable(log, "ev_wm", StructType(Seq(
          StructField("batch_id", LongType), StructField("max_ts", TimestampType))))
    }
    Files.createDirectories(root.resolve("in").resolve(sink))
  }

  def start(sink: String): StreamingQuery = {
    import org.apache.spark.sql.functions.{count, lit, max}
    val in = graft.streaming.Streams.eventsFileStream(spark,
      root.resolve("in").resolve(sink).toString, schema)
    val ck = root.resolve("ck").resolve(sink).toString
    sink match {
      case "raw" => graft.streaming.Streams.sinkToLake(in, log, "ev_raw", ck)
      case "agg" => graft.streaming.Streams.sinkAggToLake(
        in.groupBy("user_id").agg(count(lit(1)).as("n"),
          max("value").as("vmax"), max("ts").as("last_ts")),
        log, "ev_agg", "user_id", ck)
      case "late" => graft.streaming.Streams.lateRoutingSinkToLake(in, log,
        "ev_ontime", "ev_late", "ev_wm", "ts", latenessMs, ck)
    }
  }

  /** Move a chunk into the sink's input and wait until its micro-batch is
    * committed; returns the chunk's bytes. */
  def feed(sink: String, q: StreamingQuery, chunk: Path): Long = {
    val bytes = Files.size(chunk)
    Files.move(chunk, root.resolve("in").resolve(sink)
      .resolve(chunk.getFileName), StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
    q.exception.foreach(e => throw e)
    bytes
  }
}

/** A backlog of events chunk files drained one file per trigger into
  * the three sinks, one streaming query at a time: the sinks take turns
  * in phases, and a phase starts its query (untimed) and stops the last
  * one. An op is one micro-batch. */
final class StreamIngest(s: SparkSession, p: JsonNode, w: Path)
    extends Workload(s, p, w) {
  var log: LakeLog = _
  var sinks: EventSinks = _
  var active: Option[(String, StreamingQuery)] = None
  val seeded = mutable.Map.empty[String, Long]
  override def lakeLog: Option[LakeLog] = Option(log)
  def tables: Seq[String] = Seq("raw", "agg", "late").flatMap(sinks.tables)

  def setup(rep: Int): Unit = {
    val root = work.resolve(s"stream$rep")
    log = new LakeLog(root.resolve("lake"))
    sinks = new EventSinks(spark, log, root, plan.get("lateness_ms").asLong())
    Seq("raw", "agg", "late").foreach(sinks.create)
    tables.foreach(t => seeded(t) = log.latestVersion(t))
  }

  override def beforeOp(op: JsonNode): Unit = {
    val sink = op.get("kind").asText()
    if (!active.exists(_._1 == sink)) {
      active.foreach(_._2.stop())
      active = Some((sink, sinks.start(sink)))
    }
  }

  def run(op: JsonNode, rec: Main.OpRec): Unit = {
    val (sink, q) = active.get
    rec.extra("chunk_bytes") =
      sinks.feed(sink, q, Paths.get(op.get("chunk").asText()))
  }

  override def finish(out: Path, recs: Seq[Main.OpRec]): Map[String, Any] = {
    active.foreach(_._2.stop())
    active = None
    tables.foreach(t => Main.writeCheck(out, t, LakeTable.read(spark, log, t)))
    Map("bytes_added" ->
      tables.map(t => bytesAdded(log, t, seeded(t))).sum)
  }
}

/** SparkEntry queries over the sf directory; an op is one query, timed
  * until its rows are collected. A query's later results must equal its
  * first, which [[finish]] dumps for the oracle check. */
final class OperatorQueries(spark: SparkSession, sfDir: String) {
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  private def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toString).sorted

  def run(name: String, rec: Main.OpRec): Unit = {
    rec.extra("query") = name
    rec.api0 = Main.nowMs
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    rec.api1 = Main.nowMs
    val rows = df.collect()
    rec.extra("rows") = rows.length
    first.get(name) match {
      case None => first(name) = (df.schema, rows)
      case Some((_, r0)) =>
        if (canon(r0) != canon(rows)) {
          rec.ok = false
          rec.err = "result differs from this query's first run"
        }
    }
  }

  def finish(out: Path): Map[String, Any] = {
    first.foreach { case (name, (st, rows)) =>
      Main.writeCheck(out, name, spark.createDataFrame(rows.toList.asJava, st))
    }
    Map("oracle_sql" -> first.keys.toSeq
      .flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}

/** A fixed list of SparkEntry queries run in sequence over the sf
  * directory. */
final class OperatorSuite(s: SparkSession, p: JsonNode, w: Path)
    extends Workload(s, p, w) {
  private val operators = new OperatorQueries(spark, sfDir)

  def setup(rep: Int): Unit =
    files("tables").foreach(t =>
      graft.sources.Tables.load(spark, sfDir, t).count())

  def run(op: JsonNode, rec: Main.OpRec): Unit =
    operators.run(op.get("id").asText(), rec)

  override def finish(out: Path, recs: Seq[Main.OpRec]): Map[String, Any] =
    operators.finish(out)
}

/** Per-op lake counters for the traced ops, read through a SEPARATE
  * LakeLog instance so the program's own entry cache is not warmed by the
  * tracing. */
final class LakeProbe(program: LakeLog) {
  private val obs = new LakeLog(program.root)
  private val lastV = mutable.Map.empty[String, Long]
  private val live = mutable.Map.empty[String, mutable.Map[String, FileAdd]]
  private val everAdded = mutable.HashSet.empty[String]

  private def tables: Seq[String] = program.listTables()

  def counters(): Map[String, Long] = Map(
    "commit_attempts" -> program.commitAttempts.get,
    "conflicts" -> program.commitConflicts.get,
    "duplicates" -> program.commitDuplicates.get,
    "entry_reads" -> program.entryReads.get)

  /** Apply log entries committed since the last call; returns the diff. */
  def sync(): Map[String, Long] = {
    var commits, added, removed, bytesAdded, bytesRemoved = 0L
    tables.foreach { t =>
      val files = live.getOrElseUpdate(t, mutable.Map.empty)
      val from = lastV.getOrElse(t, -1L)
      obs.versions(t).filter(_ > from).foreach { v =>
        val e = obs.readEntry(t, v)
        commits += 1
        e.removes.foreach { r =>
          files.remove(r).foreach { f =>
            if (!e.adds.exists(_.path == r)) {
              removed += 1; bytesRemoved += f.size
            }
          }
        }
        e.adds.foreach { a =>
          if (everAdded.add(a.path)) { added += 1; bytesAdded += a.size }
          files(a.path) = a
        }
        lastV(t) = v
      }
    }
    Map("commits" -> commits, "added" -> added, "removed" -> removed,
      "bytes_added" -> bytesAdded, "bytes_removed" -> bytesRemoved)
  }

  def advance(before: Map[String, Long]): Map[String, Any] = {
    val after = counters()
    sync() ++ after.map { case (k, v) => k -> (v - before(k)) }
  }

  /** A cold LakeLog.snapshot of every table: checkpoint plus the entries
    * after it, as a reader opening the lake pays. */
  def coldSnapshotMs(): Double = {
    val fresh = new LakeLog(program.root)
    val t0 = System.nanoTime()
    tables.foreach(fresh.snapshot(_))
    (System.nanoTime() - t0) / 1e6
  }

  def gauges(): Map[String, Any] = {
    var entries, checkpoints, logBytes, orphans = 0L
    tables.foreach { t =>
      val s = Files.list(program.logDir(t))
      try s.iterator().asScala.foreach { f =>
        val n = f.getFileName.toString
        if (n.endsWith(".checkpoint.json")) checkpoints += 1
        else if (n.endsWith(".json") && !n.startsWith(".")) entries += 1
        logBytes += Files.size(f)
      } finally s.close()
      val referenced = obs.versions(t).flatMap(v => obs.readEntry(t, v).adds
        .flatMap(a => a.path +: a.dv.map(_.path).toSeq)).toSet
      val data = program.dataDir(t)
      if (Files.exists(data)) {
        val wk = Files.walk(data)
        try orphans += wk.iterator().asScala
          .filter(f => Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet") &&
            !referenced.contains(f.toAbsolutePath.toString)).size
        finally wk.close()
      }
    }
    val files = live.values.flatMap(_.values)
    Map("entries" -> entries, "checkpoints" -> checkpoints,
      "log_bytes" -> logBytes, "live" -> files.size,
      "dv_rows" -> files.map(_.dvRows).sum, "orphans" -> orphans)
  }
}
