package graft.lake

import java.lang.ref.WeakReference
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

/** Logical (non-materialized) SQL views — the catalog half the
  * reference's control plane gestures at with its table registry
  * (`pkg/metadata/state.go` holds table entries only; there is no view
  * object anywhere in its proto surface): named, persisted SELECTs
  * expanded at query time. The lakehouse trio is now complete here —
  * logical view (this; zero storage, always-current), materialized view
  * ([[MaterializedView]]; precomputed, incrementally refreshed) and the
  * transparent rewrite between them ([[MvRewrite]]).
  *
  * Catalog state lives in a `_views/` [[PolicyLog]] mini-log at the
  * LAKE root (views span tables), so definitions get the same OCC
  * crash/race discipline as mask and row-filter policies: concurrent
  * CREATE VIEWs both land, a crash mid-write never tears the catalog,
  * and an unparseable newest entry fails closed. Each entry is the FULL
  * ordered catalog — order is creation order, and because a view can
  * only reference tables and PREVIOUSLY CREATED views (validated at
  * CREATE time by analyzing the SELECT), replaying entries in order
  * always re-registers cleanly.
  *
  * Scale shape: a view is a SQL macro — expansion costs one Catalyst
  * analysis at plan time and NOTHING at execution (the optimized plan
  * is identical to writing the SELECT inline: filters still push down
  * THROUGH the view into the scan, pruning and the MV rewrite rule see
  * straight through it). The serving-layer contract matters too: the
  * result cache fingerprint folds the views version, so CREATE OR
  * REPLACE / DROP VIEW — catalog mutations with no table commit —
  * invalidate cached SELECTs (the same staleness class as branch moves,
  * closed the same way).
  */
object Views {

  final case class ViewDef(name: String, sql: String)
  final case class Catalog(views: Seq[ViewDef])

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule).build() :: ClassTagExtensions

  private def viewsDir(log: LakeLog): Path = log.root.resolve("_views")

  /** The catalog version — folds into the result-cache fingerprint so
    * view DDL invalidates cached statements without a table commit. */
  def catalogVersion(log: LakeLog): Long =
    PolicyLog.currentVersion(viewsDir(log))

  /** Retention sweep over the `_views/` mini-log ([[PolicyLog.vacuum]]):
    * entries older than the newest `keep` go; the governing catalog,
    * the commit point, the result-cache fingerprint (catalogVersion is
    * the max, unchanged by deleting history) and fail-closed reads are
    * untouched. */
  def vacuumCatalog(log: LakeLog, keep: Int = 8): Int =
    PolicyLog.vacuum(viewsDir(log), keep)

  /** The governing catalog: newest mini-log entry, fail-closed parse. */
  def catalog(log: LakeLog): Catalog =
    PolicyLog.readNewest(viewsDir(log)) match {
      case Some(p) =>
        try mapper.readValue[Catalog](java.nio.file.Files.readString(p))
        catch {
          case e: Exception =>
            throw new LakeValidationException(
              s"view catalog is unreadable ($p: ${e.getMessage}) — " +
                "refusing view reads until an operator re-creates it " +
                "(fail-closed)")
        }
      case None => Catalog(Nil)
    }

  /** The snapshot a table's temp view was built from. A version number
    * alone repeats across a drop and re-create of the same name, so the
    * version's own commit (txn id, timestamp) is part of the identity. */
  private final case class TableKey(version: Long, txnId: String,
                                    timestampMs: Long)

  /** A temp view [[registerAll]] installed: the lake root (and, for a
    * table, the snapshot) it was built from, and the catalog object
    * itself, held weakly so the memo never pins a plan or its session. */
  private final case class Installed(root: String, key: Option[TableKey],
                                     view: WeakReference[AnyRef])

  /** One session's registrations, by temp-view name. */
  private final class Registered {
    val tables = mutable.Map.empty[String, Installed]
    val views = mutable.Map.empty[String, Installed]
    var catalogKey: Option[(String, Long)] = None
  }

  // weak keys: a stopped and dropped session must not pin its memo
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Registered]())

  /** `table` at `pinned` (0 = latest) as a [[TableKey]]; None when that
    * version does not exist, so the caller's read raises the error. */
  private def tableKey(log: LakeLog, table: String,
                       pinned: Long): Option[TableKey] = {
    val latest = log.latestVersion(table)
    val v = if (pinned <= 0) latest else pinned
    if (v > latest) None
    else {
      val e = log.readEntry(table, v)
      Some(TableKey(v, e.txn_id, e.timestamp_ms))
    }
  }

  /** Register every lake table (at `versions` or latest) and every view
    * (in creation order, so references to earlier views resolve) as
    * temp views in `spark`. The one registration point shared by
    * [[read]] and [[graft.api.SqlApi.queryLake]].
    *
    * Registration is memoized per session. A table is rebuilt only when
    * its resolved snapshot (lake root, version, that version's txn id
    * and commit timestamp) differs from the one this session installed,
    * or the session's temp view is no longer the exact object installed
    * then (a user's own `createOrReplaceTempView`, a `dropTempView`). The
    * views' SQL re-runs only when some table was rebuilt or dropped, the
    * catalog version moved, or a view's temp view was replaced, because
    * a view's stored plan captures its tables' relations. Temp views
    * installed for tables or views that no longer exist are dropped, so
    * a dropped name fails to resolve instead of reading deleted files.
    * A SELECT over unchanged tables therefore runs no Spark command
    * before its own execution. */
  def registerAll(spark: SparkSession, log: LakeLog,
                  versions: Map[String, Long] = Map.empty): Unit = {
    val reg = registered.computeIfAbsent(spark, _ => new Registered)
    val root = log.root.toAbsolutePath.normalize.toString
    def ours(name: String, i: Installed): Boolean =
      spark.sessionState.catalog.getRawTempView(name)
        .exists(_ eq i.view.get)
    def install(into: mutable.Map[String, Installed], name: String,
                key: Option[TableKey], df: DataFrame): Unit = {
      df.createOrReplaceTempView(name)
      val raw = spark.sessionState.catalog.getRawTempView(name).orNull
      into(name) = Installed(root, key, new WeakReference[AnyRef](raw))
    }
    // forget this root's registrations whose name is gone, dropping the
    // temp view unless someone else has replaced it since
    def dropGone(from: mutable.Map[String, Installed],
                 live: Set[String]): Boolean = {
      val gone = from.filter { case (n, i) =>
        i.root == root && !live.contains(n) }
      gone.foreach { case (n, i) =>
        if (ours(n, i)) spark.catalog.dropTempView(n)
        from.remove(n)
      }
      gone.nonEmpty
    }
    reg.synchronized {
      // any table change stales every view's stored plan; marked before
      // the rebuild so a read that throws half-way leaves them stale
      val tables = log.listTables()
      if (dropGone(reg.tables, tables.toSet)) reg.catalogKey = None
      tables.foreach { t =>
        val pinned = versions.getOrElse(t, 0L)
        val key = tableKey(log, t, pinned)
        val fresh = key.isDefined && reg.tables.get(t).exists(i =>
          i.root == root && i.key == key && ours(t, i))
        if (!fresh) {
          reg.catalogKey = None
          install(reg.tables, t, key, LakeTable.readIndexed(
            spark, log, t, key.fold(pinned)(_.version)))
        }
      }
      val catKey = (root, catalogVersion(log))
      val viewsFresh = reg.catalogKey.contains(catKey) &&
        reg.views.forall { case (n, i) => i.root != root || ours(n, i) }
      if (!viewsFresh) {
        val views = catalog(log).views
        dropGone(reg.views, views.map(_.name).toSet)
        views.foreach(v =>
          install(reg.views, v.name, None, spark.sql(v.sql)))
        reg.catalogKey = Some(catKey)
      }
    }
  }

  /** CREATE [OR REPLACE] VIEW: validates the name is free (unless
    * replacing) and doesn't shadow a table, analyzes the SELECT against
    * the current catalog (a view referencing a missing column/table/
    * view fails HERE, not at first read), then commits via the OCC
    * mini-log. Replacing re-validates every DOWNSTREAM view still
    * analyzes (a replace must not strand a dependent). */
  def create(spark: SparkSession, log: LakeLog, name: String, sql: String,
             orReplace: Boolean = false): Unit = {
    require(name.matches("\\w+"), s"bad view name '$name'")
    if (log.listTables().contains(name))
      throw new LakeValidationException(
        s"cannot CREATE VIEW $name: a table with that name exists")
    PolicyLog.commit(s"view catalog ($name)", viewsDir(log)) { () =>
      val cur = catalog(log)
      if (!orReplace && cur.views.exists(_.name == name))
        throw new LakeValidationException(
          s"view $name already exists (use CREATE OR REPLACE VIEW)")
      val next =
        if (cur.views.exists(_.name == name))
          Catalog(cur.views.map(v =>
            if (v.name == name) ViewDef(name, sql) else v))
        else Catalog(cur.views :+ ViewDef(name, sql))
      validateCatalog(spark, log, next,
        s"CREATE VIEW $name")
      mapper.writeValueAsString(next)
    }
  }

  /** DROP VIEW: refuses while any remaining view still references the
    * dropped name (validated by re-analyzing the survivors). Also
    * unregisters the session's temp view so a later SELECT in THIS
    * session fails to resolve instead of silently serving the dropped
    * macro, even through a plain `spark.sql` that never passes through
    * [[registerAll]] (which drops its temp views of removed names only
    * when it next runs). */
  def drop(spark: SparkSession, log: LakeLog, name: String): Unit = {
    PolicyLog.commit(s"view catalog (drop $name)", viewsDir(log)) { () =>
      val cur = catalog(log)
      if (!cur.views.exists(_.name == name))
        throw new LakeValidationException(s"view $name does not exist")
      val next = Catalog(cur.views.filterNot(_.name == name))
      validateCatalog(spark, log, next, s"DROP VIEW $name")
      mapper.writeValueAsString(next)
    }
    spark.catalog.dropTempView(name)
  }

  /** Analyze every view in `next` (creation order) in an isolated
    * session, so a bad definition — or a drop/replace that strands a
    * dependent — never reaches the catalog. */
  private def validateCatalog(spark: SparkSession, log: LakeLog,
                              next: Catalog, what: String): Unit = {
    val probe = spark.newSession()
    log.listTables().foreach { t =>
      LakeTable.readIndexed(probe, log, t, 0L).createOrReplaceTempView(t)
    }
    next.views.foreach { v =>
      val df = try probe.sql(v.sql)
      catch {
        case e: Exception => throw new LakeValidationException(
          s"$what: view ${v.name} does not analyze: ${e.getMessage}")
      }
      df.createOrReplaceTempView(v.name)
    }
  }

  /** Read one view (registers the catalog, returns the named view). */
  def read(spark: SparkSession, log: LakeLog, name: String): DataFrame = {
    val defn = catalog(log).views.find(_.name == name).getOrElse(
      throw new LakeValidationException(s"view $name does not exist"))
    registerAll(spark, log)
    spark.sql(defn.sql)
  }
}
