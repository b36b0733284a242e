package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.lake.{Field, LakeLog, LakeTable, TableSchema, Wap}

/** The reference coordinator's REST transport as an actual in-process HTTP
  * listener — route-for-route the table of `pkg/coordinator/rest_api.go:45-68`
  * plus the compaction routes (`rest_api.go:515-521`) — served by the JDK's
  * built-in `com.sun.net.httpserver` (zero new dependencies, per the
  * no-new-libraryDependencies constraint).
  *
  * The handlers delegate to the layers that already exist: [[QueryApi]] for
  * the structured-query body, [[SqlApi]] for SQL, [[Jobs.JobManager]] for the
  * async submit → poll → results lifecycle, [[graft.lake.LakeLog]]/
  * [[graft.lake.LakeTable]] for DDL, inserts, snapshots and compaction.
  * Errors follow Go's `http.Error` convention: plain-text body, 400/404/500.
  *
  * Where the reference STUBS an endpoint, this serves the real operation
  * (same policy as [[SqlApi]]/[[graft.lake.LakeTable.insertJson]]):
  *   - `DELETE /tables/{t}` — placeholder success, deletes nothing
  *     (`rest_api.go:683-693`); here a real drop ([[LakeLog.dropTable]]).
  *   - `POST /tables/{t}/insert` — returns success WITHOUT writing
  *     (`rest_api.go:695-712`); here a real staged-commit insert.
  *   - `POST /query` — canned rows pattern-matched on `count(*)`
  *     (`rest_api.go:714-739`); here real `spark.sql` over the lake's
  *     snapshot views, rows returned inline (capped at `maxInlineRows` —
  *     the async `POST /queries` path is the one that scales, results as a
  *     location not a stream, matching `rest_api.go:404-410`). `POST /query`
  *     additionally serves the full lake-SQL face ([[LakeSql.execute]]):
  *     DML, OPTIMIZE/VACUUM/RESTORE, refs, and `VERSION AS OF` time travel.
  *
  * Beyond the reference's table: write-audit-publish routes over
  * [[graft.lake.Wap]] — `POST /tables/{t}/wap/{id}` stages a batch,
  * `GET .../wap[/{id}]` lists/audits, `POST .../wap/{id}/publish` adopts it
  * atomically, `DELETE .../wap/{id}` aborts.
  * [[graft.lake.MultiTxn]] — `POST /txns/{id}/stage/{t}` stages a
  * participant, `POST /txns/{id}/commit` decides + rolls forward,
  * `POST /txns/{id}/abort` discards an undecided txn,
  * `POST /txns/recover` is the crash-recovery sweep,
  * `GET /txns/{id}` reports undecided|decided|done.
  *
  * Single-driver scope: the listener binds one port on the Spark driver (the
  * reference's coordinator process). `port = 0` binds an ephemeral port
  * (tests); [[boundPort]] reports it.
  */
final class RestServer(spark: SparkSession, log: LakeLog,
                       resultRoot: String, port: Int = 0,
                       maxInlineRows: Int = 1000) {

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule).build() :: ClassTagExtensions

  private val jobs = new Jobs.JobManager(spark, resultRoot)
  // snapshot-keyed SELECT result cache: any commit anywhere changes the
  // fingerprint, so entries can be reused but never stale
  private val resultCache = new ResultCache[Seq[Map[String, Any]]]()

  // every query materialized through this server lands in the live series
  // the /metrics scrape target renders
  graft.Metrics.enableLive(spark)

  private final case class ActiveCompaction(txnId: String, startMs: Long,
                                            baseVersion: Long)
  private val activeCompactions =
    new ConcurrentHashMap[String, ActiveCompaction]()
  private val compactionsTotal = new java.util.concurrent.atomic.AtomicLong()

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-rest")
    t.setDaemon(true)
    t
  }))
  server.createContext("/", (ex: HttpExchange) => route(ex))

  def start(): RestServer = { server.start(); this }
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)

  // ---- routing --------------------------------------------------------

  private def route(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    try {
      (method, segs) match {
        case ("GET", List("health"))                 => health(ex)
        case ("POST", List("tables"))                => createTable(ex)
        case ("GET", List("tables", t))              => getTable(ex, t)
        case ("DELETE", List("tables", t))           => deleteTable(ex, t)
        case ("PATCH", List("tables", t, "schema"))  => evolveSchema(ex, t)
        case ("GET", List("tables", t, "versions"))  => listVersions(ex, t)
        case ("GET", List("tables", t, "versions", v, "snapshot")) =>
          getSnapshot(ex, t, v)
        case ("POST", List("tables", t, "data"))     => insertData(ex, t)
        case ("POST", List("tables", t, "insert"))   => insertDirect(ex, t)
        case ("POST", List("query"))                 => queryDirect(ex)
        case ("POST", List("queries"))               => submitQuery(ex)
        case ("GET", List("queries", id))            => queryStatus(ex, id)
        case ("GET", List("queries", id, "results")) => queryResults(ex, id)
        case ("POST", List("tables", t, "compaction")) =>
          triggerCompaction(ex, t)
        case ("DELETE", List("tables", t, "compaction")) =>
          cancelCompaction(ex, t)
        case ("DELETE", List("tables", t, "rows"))   => deleteRows(ex, t)
        case ("PATCH", List("tables", t, "rows"))    => updateRows(ex, t)
        case ("PATCH", List("tables", t, "columns", c)) =>
          alterColumn(ex, t, c)
        case ("DELETE", List("tables", t, "columns", c)) =>
          val r = log.dropColumn(t, c, s"rest-drop-$t-$c-${UUID.randomUUID()}")
          respondJson(ex, 200, Map("dropped" -> c, "version" -> r.version))
        case ("GET", List("tables", t, "changes"))   => tableChanges(ex, t)
        case ("GET", List("tables", t, "files"))     => tableFiles(ex, t)
        case ("POST", List("tables", t, "wap", id))  => wapStage(ex, t, id)
        case ("GET", List("tables", t, "wap"))       => wapList(ex, t)
        case ("GET", List("tables", t, "wap", id))   => wapAudit(ex, t, id)
        case ("POST", List("tables", t, "wap", id, "publish")) =>
          wapPublish(ex, t, id)
        case ("DELETE", List("tables", t, "wap", id)) =>
          wapAbort(ex, t, id)
        case ("GET", List("tables", t, "masked"))    => maskedRead(ex, t)
        case ("POST", List("lineage"))               => lineageOf(ex)
        case ("POST", List("txns", id, "stage", t))  => txnStage(ex, id, t)
        case ("POST", List("txns", id, "commit"))    => txnCommit(ex, id)
        case ("POST", List("txns", id, "abort"))     => txnAbort(ex, id)
        case ("POST", List("txns", "recover"))       => txnRecover(ex)
        case ("GET", List("txns", id))               => txnStatus(ex, id)
        case ("GET", List("tables", t, "compaction", "status")) =>
          compactionStatus(ex, t)
        case ("GET", List("tables", t, "compaction", "metrics")) =>
          compactionMetrics(ex, t)
        case ("GET", List("compaction", "active"))   => activeList(ex)
        case ("GET", List("metrics"))                => prometheusMetrics(ex)
        case _ => textError(ex, 404, s"no route: $method ${segs.mkString("/")}")
      }
    } catch {
      case e: graft.lake.LakeValidationException =>
        textError(ex, 400, e.getMessage)
      case e: NoSuchElementException => textError(ex, 404, e.getMessage)
      case e: Throwable =>
        textError(ex, 500, s"Internal error: ${e.getMessage}")
    } finally ex.close()
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def readMap(ex: HttpExchange): Map[String, Any] = {
    val b = body(ex)
    if (b.trim.isEmpty) Map.empty
    else mapper.readValue[Map[String, Any]](b)
  }

  private def respondJson(ex: HttpExchange, status: Int, payload: Any): Unit = {
    val bytes = mapper.writeValueAsBytes(payload)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  /** Go `http.Error` shape: text/plain body + newline. */
  private def textError(ex: HttpExchange, status: Int, msg: String): Unit = {
    val bytes = (msg + "\n").getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  // ---- handlers -------------------------------------------------------

  /** GET /health (`rest_api.go:466-499`). The single-JVM driver IS the
    * metadata service, so connected/leader are trivially this process. */
  private def health(ex: HttpExchange): Unit =
    respondJson(ex, 200, Map(
      "status" -> "healthy",
      "timestamp" -> Instant.now().toString,
      "service" -> "graft-coordinator",
      "metadata_service_connected" -> true,
      "metadata_leader" -> "driver"))

  /** POST /tables (`rest_api.go:128-206`): accepts `name` or `table_name`,
    * `schema.fields[{name,type,nullable}]`; extension: optional
    * `partition_columns` (the lake supports hive-style partitioning the
    * reference lacks). */
  private def createTable(ex: HttpExchange): Unit = {
    val req = readMap(ex)
    val name = req.get("name").orElse(req.get("table_name")) match {
      case Some(s: String) => s
      case _ => return textError(ex, 400,
        "Missing table name (use 'name' or 'table_name' field)")
    }
    val fields = req.get("schema") match {
      case Some(sch: Map[String, Any] @unchecked) =>
        sch.get("fields") match {
          case Some(fs: Seq[Any] @unchecked) => fs.map {
            case f: Map[String, Any] @unchecked => Field(
              f.getOrElse("name", "").toString,
              f.getOrElse("type", "").toString,
              f.get("nullable").forall(_ == true))
            case _ => return textError(ex, 400, "Invalid field")
          }
          case _ =>
            return textError(ex, 400, "Missing or invalid schema fields")
        }
      case _ => return textError(ex, 400, "Missing or invalid schema")
    }
    val partCols = req.get("partition_columns") match {
      case Some(ps: Seq[Any] @unchecked) => Some(ps.map(_.toString))
      case _ => None
    }
    // extension: declared per-file bloom indexes (see graft.lake.BloomSkip)
    val bloomCols = req.get("bloom_columns") match {
      case Some(bs: Seq[Any] @unchecked) => Some(bs.map(_.toString))
      case _ => None
    }
    log.createTable(name, TableSchema(fields, partition_columns = partCols,
      bloom_columns = bloomCols))
    respondJson(ex, 200, Map(
      "success" -> true,
      "message" -> s"Table $name created successfully"))
  }

  /** PATCH /tables/{t}/schema — extension route (the reference fixes
    * schemas at creation, `state.go:104-120`, but declares the
    * latest-schema-wins replay hook this exercises): body carries the
    * FULL new schema `{schema:{fields:[{name,type,nullable}]},
    * txn_id?}`; legality (adds nullable, widens int32→int64 /
    * float32→float64, never drops/renames/narrows) is enforced by
    * [[graft.lake.LakeLog.evolveSchema]]. Idempotent under txn_id
    * redelivery like every commit route. */
  private def evolveSchema(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val req = readMap(ex)
    val fields = req.get("schema") match {
      case Some(sch: Map[String, Any] @unchecked) =>
        sch.get("fields") match {
          case Some(fs: Seq[Any] @unchecked) => fs.map {
            case f: Map[String, Any] @unchecked => Field(
              f.getOrElse("name", "").toString,
              f.getOrElse("type", "").toString,
              f.get("nullable").forall(_ == true))
            case _ => return textError(ex, 400, "Invalid field")
          }
          case _ =>
            return textError(ex, 400, "Missing or invalid schema fields")
        }
      case _ => return textError(ex, 400, "Missing or invalid schema")
    }
    val cur = log.snapshot(table).schema
    val txn = req.get("txn_id").map(_.toString)
      .getOrElse(java.util.UUID.randomUUID().toString)
    // partition/bloom/constraint config passes through unchanged — the
    // route evolves FIELDS only (evolveSchema itself also inherits
    // constraints when absent, but threading them keeps the echo exact)
    val r = log.evolveSchema(table, TableSchema(fields,
      partition_columns = cur.flatMap(_.partition_columns),
      check_constraints = cur.flatMap(_.check_constraints),
      bloom_columns = cur.flatMap(_.bloom_columns)), txn)
    respondJson(ex, 200, Map(
      "success" -> true, "version" -> r.version,
      "duplicate" -> r.duplicate))
  }

  /** GET /tables/{t} (`rest_api.go:208-261`). */
  private def getTable(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val snap = log.snapshot(table)
    respondJson(ex, 200, Map(
      "table_name" -> table,
      "latest_version" -> snap.version,
      "schema" -> schemaJson(snap.schema),
      "file_count" -> snap.files.size))
  }

  private def schemaJson(s: Option[TableSchema]): Map[String, Any] =
    Map("fields" -> s.map(_.fields.map(f => Map(
      "name" -> f.name, "type" -> f.`type`, "nullable" -> f.nullable)))
      .getOrElse(Nil))

  /** DELETE /tables/{t} — real drop (reference placeholder,
    * `rest_api.go:683-693`). */
  private def deleteTable(ex: HttpExchange, table: String): Unit = {
    log.dropTable(table)
    respondJson(ex, 200, Map(
      "success" -> true,
      "message" -> s"Table $table deleted"))
  }

  /** GET /tables/{t}/versions (`rest_api.go:263-287`). */
  private def listVersions(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    respondJson(ex, 200, Map(
      "table_name" -> table,
      "versions" -> log.versions(table)))
  }

  /** GET /tables/{t}/versions/{v}/snapshot (`rest_api.go:412-464`). */
  private def getSnapshot(ex: HttpExchange, table: String, v: String): Unit = {
    val version = v.toLongOption match {
      case Some(n) if n >= 0 => n
      case _ => return textError(ex, 400, s"Invalid version: $v")
    }
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val snap = log.snapshot(table, version)
    respondJson(ex, 200, Map(
      "table_name" -> table,
      "version" -> snap.version,
      "schema" -> schemaJson(snap.schema),
      "files" -> snap.files.map(f => Map(
        "path" -> f.path, "rows" -> f.rows, "size" -> f.size,
        "partition" -> f.partition)),
      "file_count" -> snap.files.size))
  }

  /** POST /tables/{t}/data (`rest_api.go:289-326`): `{data_path, txn_id?}`
    * (+ extension `format` ∈ parquet|csv|json, default parquet). */
  private def insertData(ex: HttpExchange, table: String): Unit = {
    val req = readMap(ex)
    val dataPath = req.get("data_path") match {
      case Some(p: String) if p.nonEmpty => p
      case _ => return textError(ex, 400, "Missing data_path")
    }
    val txnId = req.get("txn_id") match {
      case Some(t: String) if t.nonEmpty => t
      case _ => UUID.randomUUID().toString
    }
    val format = req.getOrElse("format", "parquet").toString
    val result = LakeTable.load(spark, log, table, dataPath, format, txnId)
    respondJson(ex, 200, Map(
      "success" -> true,
      "txn_id" -> txnId,
      "new_version" -> result.version,
      "job_id" -> s"insert-$txnId",
      "message" ->
        s"Data inserted into table $table, new version: ${result.version}"))
  }

  /** POST /tables/{t}/insert (`rest_api.go:695-712`, a stub there):
    * `{data: [row, ...]}` — real inline insert via the staged-commit path
    * ([[LakeTable.insertJson]]). */
  private def insertDirect(ex: HttpExchange, table: String): Unit = {
    val req = readMap(ex)
    val rows = req.get("data") match {
      case Some(rs: Seq[Any] @unchecked) =>
        rs.map(r => mapper.writeValueAsString(r))
      case _ => return textError(ex, 400, "Missing data rows")
    }
    val txnId = req.get("txn_id") match {
      case Some(t: String) if t.nonEmpty => t
      case _ => UUID.randomUUID().toString
    }
    val result = LakeTable.insertJson(spark, log, table, rows, txnId)
    respondJson(ex, 200, Map(
      "success" -> true,
      "txn_id" -> txnId,
      "new_version" -> result.version,
      "message" -> s"Data inserted into table $table"))
  }

  /** POST /tables/{t}/wap/{id}: `{data: [...]}` — stage a write-audit-
    * publish batch ([[graft.lake.Wap]]): real stat'd files, invisible
    * to main readers until `/publish`. */
  private def wapStage(ex: HttpExchange, table: String, id: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val req = readMap(ex)
    val rows = req.get("data") match {
      case Some(rs: Seq[Any] @unchecked) =>
        rs.map(r => mapper.writeValueAsString(r))
      case _ => return textError(ex, 400, "Missing data rows")
    }
    val st = LakeTable.toStructType(log.snapshot(table).schema.get)
    val df = spark.read.schema(st).option("mode", "FAILFAST")
      .json(spark.createDataset(rows)(org.apache.spark.sql.Encoders.STRING))
    val b = Wap.stage(spark, log, table, df, id)
    respondJson(ex, 200, Map(
      "staged" -> id, "base_version" -> b.base_version,
      "files" -> b.adds.size, "rows" -> b.adds.map(_.rows).sum))
  }

  private def wapList(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    respondJson(ex, 200, Map("staged" -> Wap.listStaged(log, table).map(b =>
      Map("wap_id" -> b.wap_id, "base_version" -> b.base_version,
        "files" -> b.adds.size, "rows" -> b.adds.map(_.rows).sum))))
  }

  /** GET /tables/{t}/wap/{id}: the audit view — overlay vs main-line
    * row counts (gate queries beyond counts go through POST /query on
    * the published data, or the Scala API for staged overlays). */
  private def wapAudit(ex: HttpExchange, table: String, id: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val overlay = Wap.readStaged(spark, log, table, id).count()
    val main = LakeTable.read(spark, log, table).count()
    respondJson(ex, 200, Map("wap_id" -> id, "overlay_rows" -> overlay,
      "main_rows" -> main, "main_version" -> log.latestVersion(table)))
  }

  private def wapPublish(ex: HttpExchange, table: String, id: String): Unit = {
    val r = Wap.publish(spark, log, table, id)
    respondJson(ex, 200, Map("published" -> id, "new_version" -> r.version,
      "duplicate" -> r.duplicate))
  }

  private def wapAbort(ex: HttpExchange, table: String, id: String): Unit = {
    Wap.abort(log, table, id)
    respondJson(ex, 200, Map("aborted" -> id))
  }

  /** POST /txns/{id}/stage/{t}: `{data: [...]}` — stage one participant
    * of a cross-table transaction ([[graft.lake.MultiTxn]]). */
  private def txnStage(ex: HttpExchange, id: String, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val req = readMap(ex)
    val rows = req.get("data") match {
      case Some(rs: Seq[Any] @unchecked) =>
        rs.map(r => mapper.writeValueAsString(r))
      case _ => return textError(ex, 400, "Missing data rows")
    }
    val st = LakeTable.toStructType(log.snapshot(table).schema.get)
    val df = spark.read.schema(st).option("mode", "FAILFAST")
      .json(spark.createDataset(rows)(org.apache.spark.sql.Encoders.STRING))
    graft.lake.MultiTxn.stage(spark, log, id, table, df)
    respondJson(ex, 200, Map("txn" -> id, "staged" -> table))
  }

  /** POST /txns/{id}/commit: `{tables: [...]}` — decide + roll forward;
    * idempotent (a replay returns the recorded versions). */
  private def txnCommit(ex: HttpExchange, id: String): Unit = {
    val req = readMap(ex)
    val tables = req.get("tables") match {
      case Some(ts: Seq[Any] @unchecked) => ts.map(_.toString)
      case _ => return textError(ex, 400, "Missing tables")
    }
    val versions = graft.lake.MultiTxn.commit(spark, log, id, tables)
    respondJson(ex, 200, Map("txn" -> id, "committed" -> true,
      "versions" -> versions))
  }

  /** POST /txns/{id}/abort: `{tables: [...]}` — discard an UNDECIDED
    * txn's stages (a decided txn refuses: it can only roll forward). */
  private def txnAbort(ex: HttpExchange, id: String): Unit = {
    val req = readMap(ex)
    val tables = req.get("tables") match {
      case Some(ts: Seq[Any] @unchecked) => ts.map(_.toString)
      case _ => return textError(ex, 400, "Missing tables")
    }
    graft.lake.MultiTxn.abort(log, id, tables)
    respondJson(ex, 200, Map("txn" -> id, "aborted" -> true))
  }

  /** POST /txns/recover: drive every decided-but-unfinished txn to done
    * (crash recovery — the startup sweep as an endpoint). */
  private def txnRecover(ex: HttpExchange): Unit = {
    val driven = graft.lake.MultiTxn.recover(spark, log)
    respondJson(ex, 200, Map("recovered" -> driven))
  }

  /** GET /txns/{id}: undecided | decided | done (+ recorded versions). */
  private def txnStatus(ex: HttpExchange, id: String): Unit = {
    graft.lake.MultiTxn.done(log, id) match {
      case Some(r) =>
        respondJson(ex, 200, Map("txn" -> id, "state" -> "done",
          "tables" -> r.tables, "versions" -> r.versionMap))
      case None => graft.lake.MultiTxn.intent(log, id) match {
        case Some(r) =>
          respondJson(ex, 200, Map("txn" -> id, "state" -> "decided",
            "tables" -> r.tables))
        case None =>
          respondJson(ex, 200, Map("txn" -> id, "state" -> "undecided"))
      }
    }
  }

  /** POST /query (`rest_api.go:714-739`, mocked there): `{sql}` → REAL
    * SQL over the lake via [[LakeSql.execute]] — SELECT (with
    * `VERSION/TIMESTAMP AS OF` time travel) plus the Delta-style DML/
    * utility face (INSERT INTO/MERGE/UPDATE/DELETE/OPTIMIZE/VACUUM/
    * RESTORE/DESCRIBE HISTORY...); rows inline (capped). */
  private def queryDirect(ex: HttpExchange): Unit = {
    val req = readMap(ex)
    val sql = req.get("sql") match {
      case Some(s: String) if s.trim.nonEmpty => s
      case _ => return textError(ex, 400, "Missing sql")
    }
    val jobId = s"job-${UUID.randomUUID()}"
    def compute(): Seq[Map[String, Any]] =
      LakeSql.execute(spark, log, sql).toJSON.take(maxInlineRows)
        .map(r => mapper.readValue[Map[String, Any]](r)).toSeq
    // pure reads go through the snapshot-keyed cache; anything that can
    // mutate (DML, DDL, OPTIMIZE, ...) bypasses it — its own commit
    // would immediately invalidate what it just cached anyway
    val head = sql.trim.split("\\s+", 2)(0).toUpperCase
    val (rows, hit) =
      if (head == "SELECT" || head == "WITH" || head == "DESCRIBE")
        resultCache.getOrCompute(sql, resultCache.fingerprint(log))(compute())
      else (compute(), false)
    respondJson(ex, 200, Map(
      "job_id" -> jobId,
      "results" -> rows,
      "cache" -> (if (hit) "hit" else "miss"),
      "status" -> "completed"))
  }

  /** GET /tables/{t}/masked?role=r — the role-gated GOVERNED read: the
    * table's row filter first (judged on raw values), then its masking
    * policy ([[graft.lake.RowFilter.readGoverned]]); no role param reads
    * as the unprivileged default (every policy applies). */
  private def maskedRead(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val role = queryParams(ex).getOrElse("role", "")
    val rows = graft.lake.RowFilter.readGoverned(spark, log, table, role)
      .toJSON.take(maxInlineRows)
      .map(r => mapper.readValue[Map[String, Any]](r)).toSeq
    respondJson(ex, 200, Map("table" -> table, "role" -> role,
      "masked_columns" -> graft.lake.Masking.policy(log, table).masks
        .filterNot(_.exempt_roles.contains(role)).map(_.column),
      "row_filter" -> graft.lake.RowFilter.policy(log, table)
        .filterNot(_.exempt_roles.contains(role)).map(_.expr).getOrElse(""),
      "results" -> rows))
  }

  /** POST /lineage `{sql: ...}` — column-level lineage of a SELECT over
    * lake tables: (out_col, src_table, src_col) dependency rows.
    * `{table: ..., role: ...}` instead audits a MASKED read: the lineage
    * of [[graft.lake.Masking.readMasked]]'s projection, where a masked
    * output column's dependencies are its mask expression's RAW source
    * columns — the "what can still influence what the analyst sees"
    * question (a constant mask correctly shows no dataflow; the policy
    * listing, not lineage, records which columns are governed). */
  private def lineageOf(ex: HttpExchange): Unit = {
    val req = readMap(ex)
    val sql = req.get("sql") match {
      case Some(s: String) if s.trim.nonEmpty => s
      case _ => req.get("table") match {
        case Some(t: String) if log.tableExists(t) =>
          val role = req.get("role") match {
            case Some(r: String) => r
            case _ => ""
          }
          val df = graft.lake.Masking.readMasked(spark, log, t, role)
          val rows = graft.operators.Lineage.columnLineage(spark, df)
            .collect().map(r => Map("out_col" -> r.getString(0),
              "src_table" -> r.getString(1),
              "src_col" -> r.getString(2))).toSeq
          return respondJson(ex, 200, Map("table" -> t, "role" -> role,
            "lineage" -> rows))
        case Some(t: String) =>
          return textError(ex, 404, s"table $t does not exist")
        case _ => return textError(ex, 400, "Missing sql (or table+role)")
      }
    }
    val df = SqlApi.queryLake(spark, log, sql)
    val rows = graft.operators.Lineage.columnLineage(spark, df)
      .collect().map(r => Map("out_col" -> r.getString(0),
        "src_table" -> r.getString(1), "src_col" -> r.getString(2))).toSeq
    respondJson(ex, 200, Map("sql" -> sql, "lineage" -> rows))
  }

  /** POST /queries (`rest_api.go:328-367`): the structured QueryAPIRequest
    * body, submitted async → job_id. */
  private def submitQuery(ex: HttpExchange): Unit = {
    val jobId = jobs.submitLakeJson(log, body(ex))
    respondJson(ex, 200, Map(
      "success" -> true,
      "job_id" -> jobId,
      "message" -> "Query submitted successfully"))
  }

  /** GET /queries/{jobId} (`rest_api.go:369-383`). */
  private def queryStatus(ex: HttpExchange, jobId: String): Unit = {
    val s = jobs.status(jobId)
    val base = Map[String, Any]("job_id" -> s.jobId, "status" -> s.status)
    val withPath = s.resultPath.fold(base)(p => base + ("result_path" -> p))
    val withErr = s.error.fold(withPath)(e => withPath + ("error" -> e))
    val withMs = jobs.metrics(jobId).fold(withErr)(m =>
      withErr + ("duration_ms" -> (m.durationSec * 1000).toLong))
    respondJson(ex, 200, withMs)
  }

  /** GET /queries/{jobId}/results (`rest_api.go:385-410`): results are a
    * LOCATION, never streamed — the path is real parquet. */
  private def queryResults(ex: HttpExchange, jobId: String): Unit = {
    val s = jobs.status(jobId)
    if (s.status != Jobs.Completed)
      return textError(ex, 400,
        s"Query not completed, current status: ${s.status}")
    respondJson(ex, 200, Map(
      "job_id" -> jobId,
      "status" -> s.status,
      "result_path" -> s.resultPath.getOrElse(""),
      "message" ->
        "Query completed successfully. Results available at result_path."))
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** DELETE /tables/{t}/rows — row-level delete (beyond the reference's
    * route table, which has no row deletion at all). Body:
    * `{"predicate": "...", "mode": "mor"|"cow", "txn_id": "..."}` — mor
    * (default) = deletion vectors, no data rewrite; cow = copy-on-write
    * file rewrite. */
  /** PATCH /tables/{t}/rows — UPDATE ... SET ... WHERE over HTTP:
    * `{"predicate": "...", "set": {"col": "expr", ...}, "txn_id"?}`. */
  private def updateRows(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val req = readMap(ex)
    val pred = req.get("predicate") match {
      case Some(p: String) if p.trim.nonEmpty => p
      case _ => return textError(ex, 400, "Missing predicate")
    }
    val sets = req.get("set") match {
      case Some(m: Map[String, Any] @unchecked) if m.nonEmpty =>
        m.toSeq.map { case (c, e) => c -> e.toString }
      case _ => return textError(ex, 400, "Missing set map")
    }
    val txn = req.get("txn_id").map(_.toString)
      .getOrElse(UUID.randomUUID().toString)
    val r = LakeTable.updateWhere(spark, log, table, pred, sets, txn)
    respondJson(ex, 200, Map(
      "rows_updated" -> r.rowsUpdated,
      "files_rewritten" -> r.filesRewritten,
      "files_untouched" -> r.filesUntouched, "version" -> r.version))
  }

  /** PATCH /tables/{t}/columns/{c} — metadata-only column ops:
    * `{"rename_to": "newName"}`. */
  private def alterColumn(ex: HttpExchange, table: String,
                          column: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    readMap(ex).get("rename_to") match {
      case Some(n: String) if n.trim.nonEmpty =>
        val r = log.renameColumn(table, column, n.trim,
          s"rest-ren-$table-$column-$n-${UUID.randomUUID()}")
        respondJson(ex, 200, Map("renamed" -> column, "to" -> n.trim,
          "version" -> r.version))
      case _ => textError(ex, 400, "Missing rename_to")
    }
  }

  private def deleteRows(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val req = readMap(ex)
    val pred = req.get("predicate") match {
      case Some(p: String) if p.trim.nonEmpty => p
      case _ => return textError(ex, 400, "Missing predicate")
    }
    val txn = req.get("txn_id").map(_.toString)
      .getOrElse(UUID.randomUUID().toString)
    req.getOrElse("mode", "mor").toString match {
      case "cow" =>
        val r = LakeTable.deleteWhere(spark, log, table, pred, txn)
        respondJson(ex, 200, Map("mode" -> "cow",
          "files_rewritten" -> r.filesRewritten,
          "files_untouched" -> r.filesUntouched,
          "rows_deleted" -> r.rowsDeleted, "version" -> r.version))
      case "mor" =>
        val r = LakeTable.deleteWhereMor(spark, log, table, pred, txn)
        respondJson(ex, 200, Map("mode" -> "mor",
          "files_with_dv" -> r.filesWithDv,
          "files_removed" -> r.filesRemoved,
          "files_untouched" -> r.filesUntouched,
          "rows_deleted" -> r.rowsDeleted, "version" -> r.version))
      case other => textError(ex, 400, s"unknown delete mode: $other")
    }
  }

  /** GET /tables/{t}/changes?from=V[&to=V][&limit=N] — the change feed
    * (inserts + DV deletes) as JSON rows with `_change_type`. `limit`
    * caps the response (default 1000); windows with CoW rewrites return
    * 400 with the classification error. */
  private def tableChanges(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val p = queryParams(ex)
    val from = p.get("from").map(_.toLong).getOrElse(0L)
    val to = p.get("to").map(_.toLong).getOrElse(0L)
    val limit = p.get("limit").map(_.toInt).getOrElse(1000)
    val df = LakeTable.changeFeed(spark, log, table, from, to).limit(limit)
    val cols = df.columns
    val rows = df.collect().map(r =>
      cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
    respondJson(ex, 200, Map("table" -> table, "from_version" -> from,
      "rows" -> rows, "count" -> rows.length, "limit" -> limit))
  }

  /** GET /tables/{t}/files — the file inventory metadata table
    * ([[LakeTable.filesTable]]): per-file physical/live rows, dv state,
    * partition values, stats. Pure log read. */
  private def tableFiles(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val files = log.snapshot(table).files.map(f => Map(
      "path" -> f.path, "rows" -> f.rows, "live_rows" -> f.liveRows,
      "size" -> f.size, "partition" -> f.partition,
      "rewrite" -> f.rewrite, "dv_path" -> f.dv.map(_.path).orNull,
      "dv_rows" -> f.dvRows))
    respondJson(ex, 200, Map("table" -> table,
      "version" -> log.latestVersion(table), "files" -> files,
      "count" -> files.size))
  }

  /** POST /tables/{t}/compaction (`rest_api.go:530-580`): validate not
    * already running (the reference's ValidateCompactionSafety), then run a
    * REAL compaction under a cancellable Spark job group. bytes_read/written
    * are exact, from the log's before/after file sets. */
  private def triggerCompaction(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val reqBody = readMap(ex)
    val force = reqBody.get("force").contains(true)
    // optional clustering re-sort, mirroring the SQL face's
    // `OPTIMIZE .. ZORDER BY (..) CURVE ..` — client-input mistakes are
    // 400s BEFORE any compaction state is taken (a swallowed bad
    // zorder_by would report success while never clustering anything)
    val zCols = reqBody.get("zorder_by") match {
      case Some(l: Seq[_]) => l.map(_.toString)
      case Some(other) => return textError(ex, 400,
        s"zorder_by must be a JSON array of column names, got: $other")
      case None => Nil
    }
    val curveName = reqBody.get("curve")
      .map(_.toString.toLowerCase).getOrElse("morton")
    if (curveName != "morton" && curveName != "hilbert")
      return textError(ex, 400,
        s"unknown clustering curve '$curveName' (morton | hilbert)")
    val txnId = s"compaction-${UUID.randomUUID()}"
    val before = log.snapshot(table)
    val prev = activeCompactions.putIfAbsent(table,
      ActiveCompaction(txnId, System.currentTimeMillis(), before.version))
    if (prev != null)
      return textError(ex, 400,
        s"Compaction validation failed: compaction already running for $table")
    try {
      spark.sparkContext.setJobGroup(txnId, s"compaction $table",
        interruptOnCancel = true)
      val t0 = System.nanoTime()
      val report = LakeTable.compact(spark, log, table,
        LakeTable.CompactionConfig(zOrderBy = zCols, curve = curveName),
        force = force)
      val durationMs = (System.nanoTime() - t0) / 1000000L
      compactionsTotal.incrementAndGet()
      val after = log.snapshot(table, report.finalVersion)
      val beforeSizes = before.files.map(f => f.path -> f.size).toMap
      val afterSizes = after.files.map(f => f.path -> f.size).toMap
      val bytesRead = beforeSizes.collect {
        case (p, s) if !afterSizes.contains(p) => s }.sum
      val bytesWritten = afterSizes.collect {
        case (p, s) if !beforeSizes.contains(p) => s }.sum
      respondJson(ex, 200, Map(
        "success" -> true,
        "txn_id" -> txnId,
        "new_version" -> report.finalVersion,
        "input_files" -> report.filesRemoved,
        "output_files" -> report.filesAdded,
        "bytes_read" -> bytesRead,
        "bytes_written" -> bytesWritten,
        "duration_ms" -> durationMs,
        "message" ->
          (if (report.groupsPlanned == 0)
            s"No compaction needed for table $table"
          else s"Compaction completed for table $table")))
    } catch {
      // a cancel interrupts the Spark jobs; committed groups stay (snapshot-
      // isolated), uncommitted staging is cleaned by compact's finally
      case e: Throwable => respondJson(ex, 200, Map(
        "success" -> false,
        "error" -> String.valueOf(e.getMessage),
        "txn_id" -> txnId))
    } finally {
      activeCompactions.remove(table)
      spark.sparkContext.clearJobGroup()
    }
  }

  /** DELETE /tables/{t}/compaction (`rest_api.go:661-679`): cancel the
    * running compaction's Spark job group. */
  private def cancelCompaction(ex: HttpExchange, table: String): Unit = {
    val active = activeCompactions.get(table)
    if (active == null)
      return textError(ex, 400,
        s"Failed to cancel compaction: no compaction running for $table")
    spark.sparkContext.cancelJobGroup(active.txnId)
    respondJson(ex, 200, Map(
      "success" -> true,
      "message" -> s"Compaction cancelled for table $table"))
  }

  /** GET /tables/{t}/compaction/status (`rest_api.go:582-607`). */
  private def compactionStatus(ex: HttpExchange, table: String): Unit = {
    val active = activeCompactions.get(table)
    val base = Map[String, Any]("table_name" -> table,
      "running" -> (active != null))
    respondJson(ex, 200,
      if (active == null) base
      else base ++ Map(
        "txn_id" -> active.txnId,
        "base_version" -> active.baseVersion,
        "start_time" -> Instant.ofEpochMilli(active.startMs).toString,
        "status" -> "RUNNING",
        "duration_ms" -> (System.currentTimeMillis() - active.startMs)))
  }

  /** GET /tables/{t}/compaction/metrics (`rest_api.go:609-634`; counts per
    * `compaction_service.go:244-288`): small = below the config's
    * minFileSize; potential savings uses the reference's estimate — each
    * plannable group's compacted output ≈ 0.9× its input bytes
    * (`compaction_service.go:203-212`), so savings = 10% of grouped bytes. */
  private def compactionMetrics(ex: HttpExchange, table: String): Unit = {
    if (!log.tableExists(table))
      return textError(ex, 404, s"table $table does not exist")
    val snap = log.snapshot(table)
    val cfg = LakeTable.CompactionConfig()
    val small = snap.files.filter(_.size < cfg.minFileSize)
    val totalSize = snap.files.map(_.size).sum
    val smallSize = small.map(_.size).sum
    val groups = LakeTable.planCompaction(snap, cfg)
    respondJson(ex, 200, Map(
      "table_name" -> table,
      "version" -> snap.version,
      "total_files" -> snap.files.size,
      "small_files" -> small.size,
      "compaction_needed" -> LakeTable.compactionNeeded(snap, cfg),
      "total_size_bytes" -> totalSize,
      "small_files_size_bytes" -> smallSize,
      "average_small_file_size" ->
        (if (small.nonEmpty) smallSize / small.size else 0L),
      "potential_savings_bytes" ->
        groups.map(g => (g.map(_.size).sum * 0.1).toLong).sum,
      "timestamp" -> Instant.now().toString))
  }

  /** GET /metrics — the reference's Prometheus scrape target
    * (`pkg/observability/observability.go:92` mounts `promhttp` at
    * `/metrics`; `monitoring/prometheus.yml` scrapes it), rendered in the
    * text exposition format from this process's live series:
    *
    *  - `lakehouse_query_duration_seconds` histogram with the reference's
    *    exact buckets (`metrics.go` QueryDuration: 0.1..300) plus
    *    `lakehouse_queries_total`, over the [[graft.Metrics.live]] rolling
    *    window — the series its p95 < 1 s alert rule watches;
    *  - `lakehouse_commits_total` / `lakehouse_commit_failures_total`
    *    (`metrics.go` CommitsTotal/CommitFailures) from the lake log's
    *    lifetime counters, the series HighCommitFailureRate rates over;
    *    duplicate-txn replays exported separately (graft extension) so
    *    idempotent redelivery is visible without diluting failures;
    *  - `lakehouse_compactions_total` (`metrics.go` CompactionsTotal) from
    *    this server's completed compaction requests;
    *  - `lakehouse_codegen_compiles_total` / `_compile_seconds_total`
    *    (graft extension): the JVM's Janino compiles of generated code and
    *    their summed time — a query shape whose code depends on literal
    *    values shows up here once per distinct value.
    */
  private def prometheusMetrics(ex: HttpExchange): Unit = {
    val sb = new StringBuilder
    def counter(name: String, help: String, v: AnyVal): Unit = {
      sb ++= s"# HELP $name $help\n# TYPE $name counter\n$name $v\n"
    }
    val ms = graft.Metrics.live.recent
    val buckets = Seq(0.1, 0.5, 1.0, 2.5, 5.0, 10.0, 25.0, 60.0, 300.0)
    sb ++= "# HELP lakehouse_query_duration_seconds Duration of query execution in seconds\n"
    sb ++= "# TYPE lakehouse_query_duration_seconds histogram\n"
    buckets.foreach { le =>
      val n = ms.count(_.durationSec <= le)
      sb ++= s"""lakehouse_query_duration_seconds_bucket{le="$le"} $n""" += '\n'
    }
    sb ++= s"""lakehouse_query_duration_seconds_bucket{le="+Inf"} ${ms.size}""" += '\n'
    sb ++= s"lakehouse_query_duration_seconds_sum ${ms.map(_.durationSec).sum}\n"
    sb ++= s"lakehouse_query_duration_seconds_count ${ms.size}\n"
    counter("lakehouse_queries_total", "Total number of queries executed",
      ms.size.toLong)
    counter("lakehouse_commits_total", "Total number of commits",
      log.commitAttempts.get())
    counter("lakehouse_commit_failures_total",
      "Total number of commit failures", log.commitConflicts.get())
    counter("lakehouse_commit_duplicates_total",
      "Duplicate-txn commit replays (idempotent redelivery)",
      log.commitDuplicates.get())
    counter("lakehouse_compactions_total",
      "Total number of compactions", compactionsTotal.get())
    counter("lakehouse_result_cache_hits_total",
      "SELECT results served from the snapshot-keyed cache",
      resultCache.hits)
    counter("lakehouse_result_cache_misses_total",
      "SELECT results computed (cache miss)", resultCache.misses)
    counter("lakehouse_codegen_compiles_total",
      "Generated-code classes compiled with Janino",
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    counter("lakehouse_codegen_compile_seconds_total",
      "Time spent compiling generated code, in seconds",
      CodeGenerator.compileTime / 1e9)
    val bytes = sb.result().getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      "text/plain; version=0.0.4; charset=utf-8")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  /** GET /compaction/active (`rest_api.go:636-659`). */
  private def activeList(ex: HttpExchange): Unit = {
    val entries = activeCompactions.entrySet().iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (entries.hasNext) {
      val e = entries.next()
      out += Map(
        "table_name" -> e.getKey,
        "txn_id" -> e.getValue.txnId,
        "base_version" -> e.getValue.baseVersion,
        "start_time" -> Instant.ofEpochMilli(e.getValue.startMs).toString,
        "status" -> "RUNNING",
        "duration_ms" -> (System.currentTimeMillis() - e.getValue.startMs))
    }
    respondJson(ex, 200, Map(
      "active_compactions" -> out.toSeq,
      "count" -> out.size))
  }
}
