package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.lake.LakeLog

/** The REST transport end-to-end over real HTTP: every route of the
  * reference's `pkg/coordinator/rest_api.go` table served by [[RestServer]],
  * exercised with the JDK HttpClient against an ephemeral port. The DDL →
  * insert → query → compaction lifecycle runs against a real lake log; the
  * stubbed-in-the-reference endpoints (direct insert, direct query, drop)
  * are asserted to do REAL work here.
  */
class RestServerSpec extends SparkSpec with BeforeAndAfterAll {

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule).build() :: ClassTagExtensions

  private var log: LakeLog = _
  private var server: RestServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    super.beforeAll()
    log = new LakeLog(tmpDir("restlake"))
    server = new RestServer(spark, log, tmpDir("restres").toString).start()
    base = s"http://127.0.0.1:${server.boundPort}"
  }

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }

  private final case class Resp(status: Int, body: String) {
    def json: Map[String, Any] = mapper.readValue[Map[String, Any]](body)
  }

  private def get(path: String): Resp = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    Resp(r.statusCode(), r.body())
  }

  private def post(path: String, body: String): Resp = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    Resp(r.statusCode(), r.body())
  }

  private def patch(path: String, body: String): Resp = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "application/json")
        .method("PATCH", HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    Resp(r.statusCode(), r.body())
  }

  private def delete(path: String): Resp = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    Resp(r.statusCode(), r.body())
  }

  private def deleteBody(path: String, body: String): Resp = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "application/json")
        .method("DELETE", HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    Resp(r.statusCode(), r.body())
  }

  test("row deletes, change feed and file inventory over HTTP") {
    val create = post("/tables", """{
      "name": "dvt",
      "schema": {"fields": [
        {"name": "id", "type": "int64", "nullable": false},
        {"name": "v", "type": "float64", "nullable": true}]}}""")
    assert(create.status == 200 || create.status == 201)
    val rows = (1 to 20).map(i => s"""{"id": $i, "v": $i.5}""")
      .mkString("[", ",", "]")
    assert(post("/tables/dvt/insert", s"""{"data": $rows}""").status == 200)
    // merge-on-read delete (default mode)
    val del = deleteBody("/tables/dvt/rows", """{"predicate": "id > 15"}""")
    assert(del.status == 200)
    assert(del.json("mode") == "mor" && del.json("rows_deleted") == 5)
    // file inventory shows the DV debt, data file untouched
    val files = get("/tables/dvt/files")
    assert(files.status == 200)
    val fs = files.json("files").asInstanceOf[Seq[Map[String, Any]]]
    assert(fs.size == 1 && fs.head("rows") == 20 &&
      fs.head("live_rows") == 15 && fs.head("dv_rows") == 5)
    // change feed: 20 inserts + 5 deletes
    val feed = get("/tables/dvt/changes?from=0")
    assert(feed.status == 200)
    val byType = feed.json("rows").asInstanceOf[Seq[Map[String, Any]]]
      .groupBy(_("_change_type")).view.mapValues(_.size).toMap
    assert(byType == Map("insert" -> 20, "delete" -> 5))
    // validation conventions hold for the new routes
    assert(deleteBody("/tables/dvt/rows", "{}").status == 400)
    assert(deleteBody("/tables/nope/rows",
      """{"predicate": "id > 1"}""").status == 404)
    assert(get("/tables/nope/changes").status == 404)
  }

  test("row updates and column rename/drop over HTTP") {
    val create = post("/tables", """{
      "name": "updt",
      "schema": {"fields": [
        {"name": "id", "type": "int64", "nullable": false},
        {"name": "v", "type": "float64", "nullable": true},
        {"name": "tag", "type": "string", "nullable": true}]}}""")
    assert(create.status == 200 || create.status == 201)
    val rows = (1 to 10).map(i => s"""{"id": $i, "v": $i.5, "tag": "x"}""")
      .mkString("[", ",", "]")
    assert(post("/tables/updt/insert", s"""{"data": $rows}""").status == 200)
    // PATCH rows = UPDATE ... SET ... WHERE
    val upd = patch("/tables/updt/rows",
      """{"predicate": "id > 8", "set": {"v": "v * 2", "tag": "'hot'"}}""")
    assert(upd.status == 200 && upd.json("rows_updated") == 2)
    // column rename is metadata-only and visible to the query path
    val ren = patch("/tables/updt/columns/v", """{"rename_to": "score"}""")
    assert(ren.status == 200 && ren.json("to") == "score")
    val q = post("/query",
      """{"sql": "SELECT round(sum(score), 1) AS s FROM updt"}""")
    // Σ(1.5..10.5) = 60, minus 9.5+10.5, plus their doubles 19+21 → 80
    assert(q.status == 200 && q.body.contains("80.0"))
    // drop removes the column without touching files
    val drop = delete("/tables/updt/columns/tag")
    assert(drop.status == 200)
    val shape = get("/tables/updt")
    assert(!shape.body.contains("tag"))
    // validation conventions
    assert(patch("/tables/updt/rows", "{}").status == 400)
    assert(patch("/tables/nope/rows",
      """{"predicate": "id > 1", "set": {"id": "1"}}""").status == 404)
    assert(patch("/tables/updt/columns/nope",
      """{"rename_to": "x"}""").status == 400)
  }

  test("WAP over HTTP: stage → audit → publish; abort leaves no trace") {
    val create = post("/tables", """{
      "name": "wapt",
      "schema": {"fields": [
        {"name": "id", "type": "int64", "nullable": false},
        {"name": "v", "type": "string", "nullable": true}]}}""")
    assert(create.status == 200 || create.status == 201)
    assert(post("/tables/wapt/insert",
      """{"data": [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]}""").status == 200)
    // stage: main stays at v1 / 2 rows, overlay sees 4
    val st = post("/tables/wapt/wap/b1",
      """{"data": [{"id": 3, "v": "c"}, {"id": 4, "v": "d"}]}""")
    assert(st.status == 200)
    assert(st.json("base_version").asInstanceOf[Number].longValue == 1L)
    val audit = get("/tables/wapt/wap/b1").json
    assert(audit("overlay_rows").asInstanceOf[Number].longValue == 4L)
    assert(audit("main_rows").asInstanceOf[Number].longValue == 2L)
    assert(audit("main_version").asInstanceOf[Number].longValue == 1L)
    val listed = get("/tables/wapt/wap").json("staged")
      .asInstanceOf[Seq[Map[String, Any]]]
    assert(listed.map(_("wap_id")) == Seq("b1"))
    // publish; replay is the idempotent duplicate
    val pub = post("/tables/wapt/wap/b1/publish", "{}").json
    assert(pub("new_version").asInstanceOf[Number].longValue == 2L)
    assert(get("/tables/wapt/wap/b1").status == 404 ||
      get("/tables/wapt/wap").json("staged")
        .asInstanceOf[Seq[_]].isEmpty)
    val pub2 = post("/tables/wapt/wap/b1/publish", "{}").json
    assert(pub2("new_version").asInstanceOf[Number].longValue == 2L)
    assert(pub2("duplicate") == true)
    // abort path: staged rows never surface, no version minted
    assert(post("/tables/wapt/wap/bad",
      """{"data": [{"id": 9, "v": "x"}]}""").status == 200)
    assert(delete("/tables/wapt/wap/bad").status == 200)
    val q = post("/query",
      """{"sql": "SELECT count(*) AS n FROM wapt"}""").json
    val n = q("results").asInstanceOf[Seq[Map[String, Any]]]
      .head("n").asInstanceOf[Number].longValue
    assert(n == 4L)
  }

  test("GET /health reports a healthy coordinator") {
    val r = get("/health")
    assert(r.status == 200)
    val j = r.json
    assert(j("status") == "healthy")
    assert(j("metadata_service_connected") == true)
  }

  test("full lifecycle: create → get → insert → versions → snapshot → query") {
    val create = post("/tables", """{
      "name": "events",
      "schema": {"fields": [
        {"name": "id", "type": "int64", "nullable": false},
        {"name": "kind", "type": "string"}]}}""")
    assert(create.status == 200, create.body)
    assert(create.json("success") == true)

    val got = get("/tables/events")
    assert(got.status == 200)
    assert(got.json("table_name") == "events")
    assert(got.json("latest_version") == 0)

    // direct insert (a stub in the reference; real staged commit here)
    val ins = post("/tables/events/insert", """{
      "txn_id": "rest-txn-1",
      "data": [{"id": 1, "kind": "a"}, {"id": 2, "kind": "b"},
               {"id": 3, "kind": "a"}]}""")
    assert(ins.status == 200, ins.body)
    assert(ins.json("new_version") == 1)

    val versions = get("/tables/events/versions")
    assert(versions.json("versions") == List(0, 1))

    val snap = get("/tables/events/versions/1/snapshot")
    assert(snap.status == 200)
    assert(snap.json("version") == 1)
    assert(snap.json("file_count").asInstanceOf[Int] >= 1)
    assert(get("/tables/events/versions/nope/snapshot").status == 400)

    // direct query (canned rows in the reference; real spark.sql here)
    val q = post("/query",
      """{"sql": "SELECT kind, count(*) AS n FROM events GROUP BY kind ORDER BY kind"}""")
    assert(q.status == 200, q.body)
    val rows = q.json("results").asInstanceOf[Seq[Map[String, Any]]]
    assert(rows == Seq(Map("kind" -> "a", "n" -> 2), Map("kind" -> "b", "n" -> 1)))
  }

  test("PATCH /tables/{t}/schema evolves: add + widen, idempotent, 400s") {
    post("/tables", """{
      "name": "evo",
      "schema": {"fields": [
        {"name": "id", "type": "int64", "nullable": false},
        {"name": "n", "type": "int32"}]}}""")
    val widen = """{
      "txn_id": "rest-evo-1",
      "schema": {"fields": [
        {"name": "id", "type": "int64", "nullable": false},
        {"name": "n", "type": "int64"},
        {"name": "note", "type": "string"}]}}"""
    val r1 = patch("/tables/evo/schema", widen)
    assert(r1.status == 200, r1.body)
    assert(r1.json("version") == 1 && r1.json("duplicate") == false)
    // idempotent under txn redelivery
    val r2 = patch("/tables/evo/schema", widen)
    assert(r2.status == 200 && r2.json("duplicate") == true)
    val got = get("/tables/evo")
    val fields = got.json("schema").asInstanceOf[Map[String, Any]]("fields")
      .asInstanceOf[Seq[Map[String, Any]]]
    assert(fields.map(f => f("name") -> f("type")) ==
      Seq("id" -> "int64", "n" -> "int64", "note" -> "string"))
    // narrowing and drops are 400s (validation errors), not 500s
    assert(patch("/tables/evo/schema", """{
      "schema": {"fields": [
        {"name": "id", "type": "int64", "nullable": false},
        {"name": "n", "type": "int32"},
        {"name": "note", "type": "string"}]}}""").status == 400)
    assert(patch("/tables/evo/schema", """{
      "schema": {"fields": [
        {"name": "id", "type": "int64", "nullable": false}]}}""").status == 400)
  }

  test("POST /tables/{t}/data loads an external parquet file") {
    post("/tables", """{
      "table_name": "loads",
      "schema": {"fields": [{"name": "id", "type": "int64"}]}}""")
    import spark.implicits._
    val src = tmpDir("restload").resolve("src").toString
    (1L to 10L).toDF("id").write.parquet(src)
    val r = post("/tables/loads/data", s"""{"data_path": "$src"}""")
    assert(r.status == 200, r.body)
    assert(r.json("new_version") == 1)
    val q = post("/query", """{"sql": "SELECT count(*) AS n FROM loads"}""")
    assert(q.json("results") == Seq(Map("n" -> 10)))
  }

  test("async: POST /queries → poll status → results as a location") {
    post("/tables", """{
      "name": "asyncq",
      "schema": {"fields": [{"name": "id", "type": "int64"},
                            {"name": "v", "type": "string"}]}}""")
    post("/tables/asyncq/insert",
      """{"data": [{"id": 1, "v": "x"}, {"id": 2, "v": "y"}]}""")

    val sub = post("/queries", """{
      "table_name": "asyncq",
      "filter": "id > 1",
      "projection": ["id", "v"]}""")
    assert(sub.status == 200, sub.body)
    val jobId = sub.json("job_id").toString
    assert(jobId.startsWith("job-"))

    val deadline = System.currentTimeMillis() + 60000
    var status = get(s"/queries/$jobId")
    while (status.json("status") != "COMPLETED" &&
           status.json("status") != "FAILED" &&
           System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      status = get(s"/queries/$jobId")
    }
    assert(status.json("status") == "COMPLETED", status.body)
    assert(status.json.contains("duration_ms"))

    val res = get(s"/queries/$jobId/results")
    assert(res.status == 200)
    val path = res.json("result_path").toString
    assert(path.nonEmpty)
    val back = spark.read.parquet(path).collect()
    assert(back.length == 1 && back.head.getAs[Long]("id") == 2L)

    assert(get("/queries/job-unknown").status == 404)
  }

  test("results refuse until the job completes (reference 400 contract)") {
    // a query that fails analysis: status reaches FAILED, results 400
    post("/tables", """{
      "name": "failq",
      "schema": {"fields": [{"name": "id", "type": "int64"}]}}""")
    val sub = post("/queries",
      """{"table_name": "failq", "projection": ["missing_col"]}""")
    val jobId = sub.json("job_id").toString
    val deadline = System.currentTimeMillis() + 60000
    var status = get(s"/queries/$jobId")
    while (status.json("status") != "FAILED" &&
           System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      status = get(s"/queries/$jobId")
    }
    assert(status.json("status") == "FAILED")
    val res = get(s"/queries/$jobId/results")
    assert(res.status == 400)
    assert(res.body.contains("not completed"))
  }

  test("compaction: metrics, trigger, status, active list") {
    post("/tables", """{
      "name": "compactme",
      "schema": {"fields": [{"name": "id", "type": "int64"}]}}""")
    // several small commits → small files the planner wants to merge
    (1 to 4).foreach { i =>
      post("/tables/compactme/insert",
        s"""{"data": [{"id": $i}, {"id": ${i + 100}}]}""")
    }
    val metrics = get("/tables/compactme/compaction/metrics")
    assert(metrics.status == 200)
    assert(metrics.json("total_files").asInstanceOf[Int] >= 4)
    assert(metrics.json("compaction_needed") == true)
    assert(metrics.json("small_files").asInstanceOf[Int] >= 4)

    val status0 = get("/tables/compactme/compaction/status")
    assert(status0.json("running") == false)
    assert(get("/compaction/active").json("count") == 0)

    val run = post("/tables/compactme/compaction", """{"force": true}""")
    assert(run.status == 200, run.body)
    assert(run.json("success") == true, run.body)
    assert(run.json("input_files").asInstanceOf[Int] >= 4)
    assert(run.json("output_files").asInstanceOf[Int] >= 1)
    assert(run.json("bytes_read").asInstanceOf[Number].longValue > 0L)

    // rows survive the rewrite
    val q = post("/query", """{"sql": "SELECT count(*) AS n FROM compactme"}""")
    assert(q.json("results") == Seq(Map("n" -> 8)))

    // cancel with nothing running is the reference's 400
    assert(delete("/tables/compactme/compaction").status == 400)
    assert(get("/tables/missing/compaction/metrics").status == 404)

    // clustering re-sort through the route (SQL OPTIMIZE .. CURVE parity):
    // land fresh small files, then compact with a hilbert-sorted rewrite
    (1 to 4).foreach { i =>
      post("/tables/compactme/insert",
        s"""{"data": [{"id": ${200 + i}}, {"id": ${300 + i}}]}""")
    }
    // client-input mistakes are 400s BEFORE any compaction state moves:
    // a non-array zorder_by (easy free-form-JSON mistake) must not
    // silently compact unclustered while reporting success, and a curve
    // typo must not masquerade as a runtime compaction failure
    assert(post("/tables/compactme/compaction",
      """{"force": true, "zorder_by": "id", "curve": "hilbert"}""")
      .status == 400)
    assert(post("/tables/compactme/compaction",
      """{"force": true, "zorder_by": ["id"], "curve": "hilbrt"}""")
      .status == 400)
    assert(get("/tables/compactme/compaction/status").json("running") == false)

    val zrun = post("/tables/compactme/compaction",
      """{"force": true, "zorder_by": ["id"], "curve": "hilbert"}""")
    assert(zrun.status == 200, zrun.body)
    assert(zrun.json("success") == true, zrun.body)
    assert(zrun.json("input_files").asInstanceOf[Int] >= 4)
    val q2 = post("/query", """{"sql": "SELECT count(*) AS n FROM compactme"}""")
    assert(q2.json("results") == Seq(Map("n" -> 16)))
  }

  test("DELETE /tables/{t} is a real drop (reference placeholder)") {
    post("/tables", """{
      "name": "dropme",
      "schema": {"fields": [{"name": "id", "type": "int64"}]}}""")
    post("/tables/dropme/insert", """{"data": [{"id": 1}]}""")
    assert(log.tableExists("dropme"))
    val r = delete("/tables/dropme")
    assert(r.status == 200)
    assert(!log.tableExists("dropme"))
    // idempotence is NOT silent: second drop is a validation error
    assert(delete("/tables/dropme").status == 400)
    assert(get("/tables/dropme").status == 404)
  }

  test("GET /metrics serves the Prometheus text exposition format") {
    post("/tables", """{
      "name": "scraped",
      "schema": {"fields": [{"name": "id", "type": "int64"}]}}""")
    post("/tables/scraped/insert", """{"data": [{"id": 1}, {"id": 2}]}""")
    post("/query", """{"sql": "SELECT count(*) AS n FROM scraped"}""")
    val r = get("/metrics")
    assert(r.status == 200)
    // exposition format, reference series names and buckets (metrics.go)
    assert(r.body.contains("# TYPE lakehouse_query_duration_seconds histogram"))
    assert(r.body.contains("""lakehouse_query_duration_seconds_bucket{le="0.1"}"""))
    assert(r.body.contains("""lakehouse_query_duration_seconds_bucket{le="+Inf"}"""))
    assert(r.body.contains("# TYPE lakehouse_commits_total counter"))
    val commits = r.body.linesIterator
      .find(_.startsWith("lakehouse_commits_total ")).get.split(" ")(1).toLong
    assert(commits >= 1, s"expected committed inserts counted, got $commits")
    val count = r.body.linesIterator
      .find(_.startsWith("lakehouse_query_duration_seconds_count "))
      .get.split(" ")(1).toLong
    assert(count >= 1, "the /query execution must land in the live series")
    // bucket counts are cumulative: each bucket ≤ the next, all ≤ count
    val buckets = r.body.linesIterator
      .filter(_.startsWith("lakehouse_query_duration_seconds_bucket"))
      .map(_.split(" ")(1).toLong).toList
    assert(buckets == buckets.sorted && buckets.last == count)
    // the JVM's generated-code compiles: the /query above planned and ran
    // whole-stage code, so at least one class was compiled by now
    def value(name: String): Double = r.body.linesIterator
      .find(_.startsWith(s"$name ")).get.split(" ")(1).toDouble
    assert(r.body.contains("# TYPE lakehouse_codegen_compiles_total counter"))
    assert(r.body.contains(
      "# TYPE lakehouse_codegen_compile_seconds_total counter"))
    assert(value("lakehouse_codegen_compiles_total") >= 1)
    assert(value("lakehouse_codegen_compile_seconds_total") > 0)
  }

  test("error conventions: 404 unknown route, 400 bad bodies, plain text") {
    assert(get("/nope").status == 404)
    val r = post("/tables", """{"schema": {"fields": []}}""")
    assert(r.status == 400)
    assert(r.body.contains("Missing table name"))
    assert(post("/tables/events/data", "{}").status == 400)
    assert(post("/query", "{}").status == 400)
    assert(post("/tables", """{"name": "noschema"}""").status == 400)
  }

  test("every metric the monitoring stack consumes is served by /metrics") {
    // monitoring/grafana/dashboards/graft-dashboard.json panels and
    // monitoring/lakehouse_alerts.yml rules must only reference series
    // GET /metrics actually exposes — a dashboard over unserved series
    // is a lie (the reference's dashboard does exactly that for roles
    // Spark subsumes; ours is restricted to the live surface).
    val served = get("/metrics").body
    val metricRe = "lakehouse_[a-z_]+".r
    Seq("monitoring/grafana/dashboards/graft-dashboard.json",
        "monitoring/lakehouse_alerts.yml").foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), StandardCharsets.UTF_8)
      val wanted = metricRe.findAllIn(text).toSet
        // histogram child series: the scrape exposes _bucket/_sum/_count
        .map((m: String) => m.stripSuffix("_bucket"))
        // the rules FILE's own name, matched in header comments
        .filterNot(_ == "lakehouse_alerts")
      assert(wanted.nonEmpty, s"$f references no metrics — wrong file?")
      val missing = wanted.filterNot(served.contains)
      assert(missing.isEmpty,
        s"$f references series /metrics does not serve: $missing")
    }
  }

  test("cross-table txn over REST: stage both, commit once, abort path") {
    for (t <- Seq("mta", "mtb"))
      assert(post("/tables", s"""{
        "name": "$t",
        "schema": {"fields": [
          {"name": "id", "type": "int64", "nullable": false}]}}""")
        .status == 200)
    assert(get("/txns/rt1").json("state") == "undecided")
    assert(post("/txns/rt1/stage/mta",
      """{"data": [{"id": 1}]}""").status == 200)
    assert(post("/txns/rt1/stage/mtb",
      """{"data": [{"id": 2}]}""").status == 200)
    // neither participant visible before the decision
    def count(t: String) = post("/query",
      s"""{"sql": "SELECT count(*) AS n FROM $t"}""").json("results")
      .asInstanceOf[Seq[Map[String, Any]]].head("n")
      .asInstanceOf[Number].longValue
    assert(count("mta") == 0L && count("mtb") == 0L)
    val c = post("/txns/rt1/commit", """{"tables": ["mta", "mtb"]}""").json
    assert(c("committed") == true)
    assert(count("mta") == 1L && count("mtb") == 1L)
    assert(get("/txns/rt1").json("state") == "done")
    // replayed commit returns the same versions
    val c2 = post("/txns/rt1/commit", """{"tables": ["mta", "mtb"]}""").json
    assert(c2("versions") == c("versions"))
    // a decided txn refuses abort; an undecided one discards its stages
    assert(post("/txns/rt1/abort",
      """{"tables": ["mta", "mtb"]}""").status == 400)
    assert(post("/txns/rt2/stage/mta",
      """{"data": [{"id": 9}]}""").status == 200)
    assert(post("/txns/rt2/abort", """{"tables": ["mta"]}""").status == 200)
    assert(count("mta") == 1L)
    assert(post("/txns/recover", "{}").json("recovered")
      .asInstanceOf[Seq[_]].isEmpty)
  }

  test("result cache over HTTP: hit on repeat, invalidated by a commit") {
    assert(post("/tables", """{
      "name": "rct",
      "schema": {"fields": [{"name": "id", "type": "int64"},
                            {"name": "v", "type": "int64"}]}}""").status == 200)
    assert(post("/tables/rct/insert",
      """{"data": [{"id": 1, "v": 10}, {"id": 2, "v": 20}]}""").status == 200)
    val q = """{"sql": "SELECT sum(v) AS s FROM rct"}"""
    val r1 = post("/query", q).json
    assert(r1("cache") == "miss")
    val r2 = post("/query", q).json
    assert(r2("cache") == "hit")
    assert(r2("results") == r1("results"))
    // DML bypasses the cache and its commit invalidates the entry
    val ins = post("/query",
      """{"sql": "INSERT INTO rct SELECT 3 AS id, 30 AS v"}""").json
    assert(ins("cache") == "miss")
    val r3 = post("/query", q).json
    assert(r3("cache") == "miss", "a commit must change the fingerprint")
    assert(r3("results").asInstanceOf[Seq[Map[String, Any]]]
      .head("s").toString.toLong == 60L)
    // metrics expose the counters
    val m = get("/metrics").body
    assert(m.contains("lakehouse_result_cache_hits_total"))
  }

  test("masked reads and lineage over HTTP") {
    assert(post("/tables", """{
      "name": "gvt",
      "schema": {"fields": [{"name": "id", "type": "int64"},
                            {"name": "seg", "type": "string"}]}}""").status == 200)
    assert(post("/tables/gvt/insert",
      """{"data": [{"id": 1, "seg": "BUILDING"}]}""").status == 200)
    post("/query", """{"sql": "ALTER TABLE gvt SET MASK seg AS (concat(substring(seg, 1, 1), '***')) EXEMPT (admin)"}""")
    val analyst = get("/tables/gvt/masked?role=analyst").json
    assert(analyst("masked_columns") == Seq("seg"))
    assert(analyst("results").asInstanceOf[Seq[Map[String, Any]]]
      .head("seg") == "B***")
    val admin = get("/tables/gvt/masked?role=admin").json
    assert(admin("masked_columns") == Seq())
    assert(admin("results").asInstanceOf[Seq[Map[String, Any]]]
      .head("seg") == "BUILDING")
    assert(get("/tables/nope/masked").status == 404)
    val lin = post("/lineage",
      """{"sql": "SELECT upper(seg) AS s, id + 1 AS i FROM gvt"}""").json
    assert(lin("lineage") == Seq(
      Map("out_col" -> "i", "src_table" -> "gvt", "src_col" -> "id"),
      Map("out_col" -> "s", "src_table" -> "gvt", "src_col" -> "seg")))
  }

  test("grafana datasource provisioning matches the dashboard's source") {
    def read(f: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), StandardCharsets.UTF_8)
    // the provisioned datasource: named, prometheus-typed, the default
    // (the dashboard's panels carry no explicit datasource field, so
    // they bind to whatever is default — that binding must exist)
    val ds = read("monitoring/grafana/datasources/prometheus.yml")
    assert(ds.contains("name: Prometheus"), "datasource must be named")
    assert(ds.contains("type: prometheus"))
    assert(ds.contains("isDefault: true"),
      "dashboard panels have no explicit datasource — the provisioned " +
        "one must be the default or every panel dangles")
    // any explicit datasource reference in the dashboard must name the
    // provisioned one (guards a future panel edit that hardcodes a uid)
    val dash = read("monitoring/grafana/dashboards/graft-dashboard.json")
    "\"datasource\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(dash)
      .foreach(m => assert(m.group(1) == "Prometheus",
        s"dashboard names unprovisioned datasource ${m.group(1)}"))
    // the scrape config must load the SAME alert rules file the
    // in-process sidecar evaluates
    val prom = read("monitoring/prometheus.yml")
    assert(prom.contains("lakehouse_alerts.yml"))
  }
}
