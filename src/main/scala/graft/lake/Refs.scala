package graft.lake

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import LakeLog.mapper

/** Named refs over table versions — Iceberg-style TAGS and BRANCHES for
  * the lake's version line. A TAG is an immutable named snapshot
  * (`release-2024-01`, `eval-freeze`): it pins the exact version a
  * downstream consumer (a training run, an eval harness, an auditor)
  * read, surviving later writes and making "what data trained this
  * model" a name, not a number someone wrote down. A BRANCH is a
  * MUTABLE named pointer over the same linear history (`prod`,
  * `blessed`): an operator moves it forward only after validation, so
  * consumers reading `VERSION AS OF 'prod'` ride promotions, never raw
  * head — the lightweight-ref promotion pattern (the log itself stays
  * single-line; divergent commit lines are what [[Wap]] staging covers).
  * The reference has no ref surface; the published pattern is Iceberg's
  * ref system (`UpdateSnapshotReferencesOperation`) and Git's
  * lightweight refs.
  *
  * Storage: one JSON file per ref under `tables/<t>/_refs/`. CREATION
  * goes through [[LakeLog.createIfAbsent]], the log entries' commit
  * point — two processes racing the same name get one winner and one
  * clean conflict, never a silent overwrite. Tag MUTATION is forbidden
  * by construction (create fails on an existing name); branch moves are
  * a [[LakeLog.replace]] (replacement is the point for a mutable ref).
  * VACUUM safety: refs pin VERSIONS, so version-retention policies keep
  * every ref-pinned version's files ([[LakeTable.vacuum]] takes the floor
  * over [[pinnedVersions]]).
  */
object Refs {

  final case class TableRef(name: String, version: Long, created_ms: Long,
                            kind: String = Tag)

  val Tag = "tag"
  val Branch = "branch"

  private val NameRe = "^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$".r

  private def refsDir(log: LakeLog, table: String): Path =
    log.tableDir(table).resolve("_refs")

  private def refPath(log: LakeLog, table: String, name: String): Path =
    refsDir(log, table).resolve(s"$name.json")

  private def validate(log: LakeLog, table: String, name: String,
                       version: Long): Unit = {
    if (NameRe.findFirstIn(name).isEmpty)
      throw new LakeValidationException(
        s"invalid ref name '$name' (allowed: [A-Za-z0-9._-], max 128)")
    if (version < 1 || version > log.latestVersion(table))
      throw new LakeValidationException(
        s"cannot point a ref at $table@$version: not a committed " +
          s"version (latest is ${log.latestVersion(table)})")
  }

  /** Create an immutable tag pinning `version` (must be a committed
    * version ≥ 1 — 0 is the snapshot resolver's latest-sentinel, so a
    * ref named through it would silently float). */
  def createTag(log: LakeLog, table: String, name: String,
                version: Long): TableRef =
    createRef(log, table, name, version, Tag)

  /** Create a movable branch pointer at `version`. */
  def createBranch(log: LakeLog, table: String, name: String,
                   version: Long): TableRef =
    createRef(log, table, name, version, Branch)

  private def createRef(log: LakeLog, table: String, name: String,
                        version: Long, kind: String): TableRef = {
    validate(log, table, name, version)
    Files.createDirectories(refsDir(log, table))
    val ref = TableRef(name, version, System.currentTimeMillis(), kind)
    if (!LakeLog.createIfAbsent(refPath(log, table, name),
        mapper.writeValueAsString(ref)))
      throw new LakeValidationException(
        s"ref '$name' already exists on $table (tags are immutable; " +
          "move a branch with moveBranch, or drop the ref first)")
    ref
  }

  /** Move a BRANCH pointer to `version` — an atomic whole-file replace
    * (readers see the old target or the new one, never a torn ref).
    * Tags refuse: immutability is their contract. */
  def moveBranch(log: LakeLog, table: String, name: String,
                 version: Long): TableRef = {
    val cur = resolveOrThrow(log, table, name)
    if (cur.kind != Branch)
      throw new LakeValidationException(
        s"'$name' on $table is a tag — tags are immutable (drop and " +
          "re-create, or use a branch for a movable pointer)")
    validate(log, table, name, version)
    val ref = TableRef(name, version, System.currentTimeMillis(), Branch)
    LakeLog.replace(refPath(log, table, name), mapper.writeValueAsString(ref))
    ref
  }

  /** Resolve a ref name to its pinned version. */
  def resolve(log: LakeLog, table: String, name: String): Option[TableRef] =
    LakeLog.readIfExists(refPath(log, table, name))
      .map(mapper.readValue[TableRef](_))

  /** Resolve or fail loudly — the read-path entry point. */
  def resolveOrThrow(log: LakeLog, table: String, name: String): TableRef =
    resolve(log, table, name).getOrElse(throw new LakeValidationException(
      s"no ref '$name' on table $table"))

  def drop(log: LakeLog, table: String, name: String): Unit = {
    if (!Files.deleteIfExists(refPath(log, table, name)))
      throw new LakeValidationException(s"no ref '$name' on table $table")
  }

  /** Kept name for the tag face (drop is kind-agnostic: deleting a ref
    * never deletes data — pinned files return to vacuum's normal
    * retention math). */
  def dropTag(log: LakeLog, table: String, name: String): Unit =
    drop(log, table, name)

  /** All refs on a table, name-sorted. */
  def list(log: LakeLog, table: String): Seq[TableRef] = {
    val dir = refsDir(log, table)
    if (!Files.isDirectory(dir)) return Nil
    val names = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    names.filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(n => n.stripSuffix(".json")).sorted
      .flatMap(n => resolve(log, table, n))
  }

  /** The set of versions pinned by any ref (tag or branch) — the
    * vacuum floor. */
  def pinnedVersions(log: LakeLog, table: String): Set[Long] =
    list(log, table).map(_.version).toSet

  /** Kept name: tags were the first ref kind; vacuum pins ALL refs. */
  def taggedVersions(log: LakeLog, table: String): Set[Long] =
    pinnedVersions(log, table)
}
