package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.CatalogAccess
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import Meta._

/** Access-control roles (SURVEY §2.A A30;
  * `/root/reference/sql/pg_ducklake--0.1.0.sql:523-563`,
  * `/root/reference/docs/access_control.md`).
  *
  * The reference ships three predefined NOLOGIN group roles —
  * superuser / writer / reader, names configurable via GUCs
  * (`ducklake.superuser_role` etc., empty string skips the role) — plus
  * per-table `GRANT`s, and then DOCUMENTS that DML-level checks are
  * bypassed (pg_duckdb nulls `permInfos`, access_control.md "Known
  * Gaps"). This Spark implementation keeps the same model and closes the
  * gap: checks run at the engine's own choke points, which a planner
  * cannot skip —
  *
  *  - SELECT at [[LakeRead.scanDF]] (the library's reads: API, change
  *    feed, views — views check the BASE tables, the documented
  *    difference from PG's owner-rights views) and at the DSv2 scan
  *    build (SQL, and again for the relations scanDF makes),
  *  - INSERT / UPDATE / DELETE at [[LakeWrite]].append/update/delete
  *    (every write path funnels there: API, DSv2, SQL DML, MERGE,
  *    streaming sink),
  *  - DDL + maintenance (create/drop/alter/vacuum/GC/views/macros/
  *    options) require the superuser role.
  *
  * Model, matching the reference's intent table (access_control.md
  * "Predefined Roles"): superuser = full DDL + DML; writer = DML on all
  * lake tables; reader = SELECT on all lake tables; custom roles get
  * only what `GRANT ... ON TABLE ... TO role` gives them. Role names
  * resolve through catalog options (`superuser_role` /` writer_role` /
  * `reader_role`, defaults `graft_superuser`/`graft_writer`/
  * `graft_reader`; empty string disables the role — GUC parity).
  *
  * Enforcement is ON when the session declares a user
  * (`SET graft.user = analyst`); an undeclared session is the
  * single-user owner (the reference's default posture). State lives in
  * interval-versioned catalog tags (`acl:role` / `acl:user` /
  * `acl:grant:<schema>.<table>` scopes), so role history is CAS-committed,
  * checkpointed, JDBC-portable, and time-travels like every other
  * catalog entity — `roles()`/`grants()` at a snapshot show the ACL as
  * of that snapshot, which PG's pg_roles cannot do.
  */
object LakeAcl {
  val UserConf = "graft.user"
  val AllPrivs: List[String] = List("SELECT", "INSERT", "UPDATE", "DELETE")
  val RoleScope = "acl:role"
  val UserScope = "acl:user"
  def grantScope(sn: String, tn: String): String = s"acl:grant:$sn.$tn"

  def currentUser(spark: SparkSession): Option[String] =
    try spark.conf.getOption(UserConf).map(_.trim).filter(_.nonEmpty)
    catch { case _: Exception => None }

  /** fast path: zero metadata reads when no session user is declared */
  def enforced(spark: SparkSession): Boolean = currentUser(spark).isDefined

  private def configuredRole(st: CatalogState, key: String, default: String,
      s: Long): Option[String] =
    Some(st.tagAt("global", key, s).getOrElse(default)).filter(_.nonEmpty)

  def superuserRole(st: CatalogState, s: Long): Option[String] =
    configuredRole(st, "superuser_role", "graft_superuser", s)
  def writerRole(st: CatalogState, s: Long): Option[String] =
    configuredRole(st, "writer_role", "graft_writer", s)
  def readerRole(st: CatalogState, s: Long): Option[String] =
    configuredRole(st, "reader_role", "graft_reader", s)

  def predefinedRoles(st: CatalogState, s: Long): Seq[String] =
    Seq(superuserRole(st, s), writerRole(st, s), readerRole(st, s)).flatten

  def rolesOf(st: CatalogState, user: String, s: Long): Set[String] =
    st.tagAt(UserScope, user, s)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  def roleExists(st: CatalogState, role: String, s: Long): Boolean =
    predefinedRoles(st, s).contains(role) ||
      st.tagAt(RoleScope, role, s).isDefined

  def userExists(st: CatalogState, user: String, s: Long): Boolean =
    st.tagAt(UserScope, user, s).isDefined

  def isSuperuser(st: CatalogState, user: String, s: Long): Boolean =
    superuserRole(st, s).exists(rolesOf(st, user, s).contains)

  def hasPriv(st: CatalogState, user: String, priv: String, sn: String,
      tn: String, s: Long): Boolean = {
    val rs = rolesOf(st, user, s)
    if (superuserRole(st, s).exists(rs.contains)) true
    else if (writerRole(st, s).exists(rs.contains)) true // all DML + SELECT
    else if (priv == "SELECT" && readerRole(st, s).exists(rs.contains)) true
    else rs.exists(r => st.tagAt(grantScope(sn, tn), r, s)
      .exists(_.split(',').map(_.trim).contains(priv)))
  }

  /** PG-style `permission denied` — thrown only when a session user is
    * declared and lacks the privilege. */
  def requirePriv(spark: SparkSession, st: CatalogState, priv: String,
      sn: String, tn: String, s: Long): Unit =
    currentUser(spark).foreach { u =>
      if (!hasPriv(st, u, priv, sn, tn, s))
        throw new SecurityException(
          s"permission denied for table $sn.$tn ($priv as user $u)")
    }

  /** choke-point helper: one state read, only when a user is declared */
  def check(spark: SparkSession, store: MetadataStore, priv: String,
      sn: String, tn: String): Unit =
    if (enforced(spark)) {
      val st = store.state()
      requirePriv(spark, st, priv, sn, tn, st.currentSnapshotId)
    }

  def requireSuperuser(spark: SparkSession, st: CatalogState, op: String,
      s: Long): Unit =
    currentUser(spark).foreach { u =>
      if (!isSuperuser(st, u, s))
        throw new SecurityException(
          s"permission denied: $op requires the superuser role (user $u)")
    }
}

/** Role / user / grant DDL over a [[Lake]]'s metadata store. Every
  * mutating statement itself requires the superuser role (PG's
  * CREATEROLE discipline) and commits one CAS snapshot. */
final class AclOps(lake: Lake) {
  import LakeAcl._
  private def spark = lake.spark
  private def store = lake.store

  private def ddl(op: String)(
      build: (CatalogState, Long) => CommitDelta): Long = {
    val st0 = store.state()
    requireSuperuser(spark, st0, op, st0.currentSnapshotId)
    store.commitWithRetry()((st, sid) => build(st, sid))
  }

  private def snap(sid: Long, msg: String): Snapshot =
    Snapshot(sid, System.currentTimeMillis(), sid, List(msg))

  def createRole(role: String): Long = ddl("CREATE ROLE") { (st, sid) =>
    require(!roleExists(st, role, st.currentSnapshotId), s"role $role exists")
    CommitDelta(snapshot = snap(sid, s"acl:create_role:$role"),
      newTags = List(TagEntry(RoleScope, role, "role", sid, None)))
  }

  /** drops the role, its table grants, and its memberships in one
    * snapshot (PG requires DROP OWNED first; a single-catalog lake can
    * cascade safely). Predefined roles cannot be dropped — disable them
    * via the `*_role` setting instead, like the reference's empty GUC. */
  def dropRole(role: String, ifExists: Boolean = false): Long =
    ddl("DROP ROLE") { (st, sid) =>
      val s = st.currentSnapshotId
      require(!predefinedRoles(st, s).contains(role),
        s"cannot drop predefined role $role (set its *_role option to '' to disable)")
      if (st.tagAt(RoleScope, role, s).isEmpty) {
        require(ifExists, s"no role $role")
        CommitDelta(snapshot = snap(sid, s"acl:drop_role:$role:noop"))
      } else {
        val liveTags = st.tags.filter(t => liveAt(t.begin, t.end, s))
        val grantTags = liveTags.filter(t =>
          t.scope.startsWith("acl:grant:") && t.key == role)
        val memberTags = liveTags.filter(t => t.scope == UserScope &&
          t.value.split(',').map(_.trim).contains(role))
        CommitDelta(snapshot = snap(sid, s"acl:drop_role:$role"),
          endedTags = s"$RoleScope:$role" ::
            (grantTags.map(t => s"${t.scope}:${t.key}") ++
             memberTags.map(t => s"${t.scope}:${t.key}")).toList,
          newTags = memberTags.map { t =>
            val kept = t.value.split(',').map(_.trim)
              .filter(r => r.nonEmpty && r != role)
            TagEntry(UserScope, t.key, kept.mkString(","), sid, None)
          }.toList)
      }
    }

  def createUser(user: String, roles: Seq[String] = Nil): Long =
    ddl("CREATE USER") { (st, sid) =>
      val s = st.currentSnapshotId
      require(!userExists(st, user, s), s"user $user exists")
      roles.foreach(r => require(roleExists(st, r, s), s"no role $r"))
      CommitDelta(snapshot = snap(sid, s"acl:create_user:$user"),
        newTags = List(TagEntry(UserScope, user, roles.mkString(","), sid, None)))
    }

  def dropUser(user: String, ifExists: Boolean = false): Long =
    ddl("DROP USER") { (st, sid) =>
      val s = st.currentSnapshotId
      if (!userExists(st, user, s)) {
        require(ifExists, s"no user $user")
        CommitDelta(snapshot = snap(sid, s"acl:drop_user:$user:noop"))
      } else CommitDelta(snapshot = snap(sid, s"acl:drop_user:$user"),
        endedTags = List(s"$UserScope:$user"))
    }

  /** `GRANT role TO user` — membership. */
  def grantRole(role: String, user: String): Long =
    ddl("GRANT ROLE") { (st, sid) =>
      val s = st.currentSnapshotId
      require(roleExists(st, role, s), s"no role $role")
      require(userExists(st, user, s), s"no user $user")
      val cur = rolesOf(st, user, s)
      if (cur.contains(role))
        CommitDelta(snapshot = snap(sid, s"acl:grant_role:noop"))
      else CommitDelta(snapshot = snap(sid, s"acl:grant_role:$role:$user"),
        endedTags = List(s"$UserScope:$user"),
        newTags = List(TagEntry(UserScope, user,
          (cur + role).toSeq.sorted.mkString(","), sid, None)))
    }

  /** `REVOKE role FROM user`. */
  def revokeRole(role: String, user: String): Long =
    ddl("REVOKE ROLE") { (st, sid) =>
      val s = st.currentSnapshotId
      require(userExists(st, user, s), s"no user $user")
      val cur = rolesOf(st, user, s)
      if (!cur.contains(role))
        CommitDelta(snapshot = snap(sid, s"acl:revoke_role:noop"))
      else CommitDelta(snapshot = snap(sid, s"acl:revoke_role:$role:$user"),
        endedTags = List(s"$UserScope:$user"),
        newTags = List(TagEntry(UserScope, user,
          (cur - role).toSeq.sorted.mkString(","), sid, None)))
    }

  /** `GRANT privs ON TABLE t TO role` — merges with existing grants. */
  def grant(table: String, role: String, privs: Seq[String]): Long = {
    val ps = normPrivs(privs)
    ddl("GRANT") { (st, sid) =>
      val s = st.currentSnapshotId
      val (sn, tn) = lake.schemaOf(table)
      require(st.tableAt(sn, tn, s).isDefined, s"no table $table")
      require(roleExists(st, role, s), s"no role $role")
      val scope = grantScope(sn, tn)
      val cur = st.tagAt(scope, role, s)
        .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty)
      val merged = (cur ++ ps).toSeq.sortBy(AllPrivs.indexOf)
      CommitDelta(snapshot = snap(sid, s"acl:grant:$sn.$tn:$role"),
        endedTags = if (cur.nonEmpty) List(s"$scope:$role") else Nil,
        newTags = List(TagEntry(scope, role, merged.mkString(","), sid, None)))
    }
  }

  /** `REVOKE privs ON TABLE t FROM role`. */
  def revoke(table: String, role: String, privs: Seq[String]): Long = {
    val ps = normPrivs(privs)
    ddl("REVOKE") { (st, sid) =>
      val s = st.currentSnapshotId
      val (sn, tn) = lake.schemaOf(table)
      val scope = grantScope(sn, tn)
      val cur = st.tagAt(scope, role, s)
        .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty)
      val kept = (cur -- ps).toSeq.sortBy(AllPrivs.indexOf)
      CommitDelta(snapshot = snap(sid, s"acl:revoke:$sn.$tn:$role"),
        endedTags = if (cur.nonEmpty) List(s"$scope:$role") else Nil,
        newTags = if (kept.nonEmpty)
          List(TagEntry(scope, role, kept.mkString(","), sid, None)) else Nil)
    }
  }

  private def normPrivs(privs: Seq[String]): Seq[String] = {
    val up = privs.map(_.trim.toUpperCase)
    val expanded = if (up.contains("ALL")) AllPrivs else up
    expanded.foreach(p => require(AllPrivs.contains(p), s"unknown privilege $p"))
    expanded.distinct
  }

  // ------------------------------------------------------------ metadata

  /** all roles at a snapshot (None = current): predefined + created. */
  def roles(version: Option[Long] = None): DataFrame = {
    val st = store.state()
    val s = version.getOrElse(st.currentSnapshotId)
    val pre = predefinedRoles(st, s).map(r => Row(r, "predefined"))
    val created = st.tags
      .filter(t => t.scope == RoleScope && liveAt(t.begin, t.end, s))
      .map(t => Row(t.key, "created"))
    mk(pre ++ created, StructType(Seq(
      StructField("role_name", StringType, nullable = false),
      StructField("role_kind", StringType, nullable = false))))
  }

  def users(version: Option[Long] = None): DataFrame = {
    val st = store.state()
    val s = version.getOrElse(st.currentSnapshotId)
    val rows = st.tags
      .filter(t => t.scope == UserScope && liveAt(t.begin, t.end, s))
      .map(t => Row(t.key, t.value))
    mk(rows, StructType(Seq(
      StructField("user_name", StringType, nullable = false),
      StructField("member_of", StringType, nullable = false))))
  }

  def grants(version: Option[Long] = None): DataFrame = {
    val st = store.state()
    val s = version.getOrElse(st.currentSnapshotId)
    val rows = st.tags
      .filter(t => t.scope.startsWith("acl:grant:") && liveAt(t.begin, t.end, s))
      .map { t =>
        val qualified = t.scope.stripPrefix("acl:grant:")
        val (sn, tn) = lake.schemaOf(qualified)
        Row(sn, tn, t.key, t.value)
      }
    mk(rows, StructType(Seq(
      StructField("schema_name", StringType, nullable = false),
      StructField("table_name", StringType, nullable = false),
      StructField("role_name", StringType, nullable = false),
      StructField("privileges", StringType, nullable = false))))
  }

  private def mk(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
}

// ---------------------------------------------------------------- SQL DDL

case class CreateLakeRoleCommand(catalogName: String, role: String)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("snapshot_id", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(SqlViews.lakeOf(spark, catalogName).acl.createRole(role)))
}

case class DropLakeRoleCommand(catalogName: String, role: String,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("snapshot_id", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(SqlViews.lakeOf(spark, catalogName).acl.dropRole(role, ifExists)))
}

case class CreateLakeUserCommand(catalogName: String, user: String,
    roles: Seq[String]) extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("snapshot_id", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(SqlViews.lakeOf(spark, catalogName).acl.createUser(user, roles)))
}

case class DropLakeUserCommand(catalogName: String, user: String,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("snapshot_id", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(SqlViews.lakeOf(spark, catalogName).acl.dropUser(user, ifExists)))
}

/** GRANT privs ON TABLE t TO role | GRANT role TO user */
case class GrantLakeCommand(catalogName: String, privs: Seq[String],
    table: Option[String], grantee: String) extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("snapshot_id", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val acl = SqlViews.lakeOf(spark, catalogName).acl
    Seq(Row(table match {
      case Some(t) => acl.grant(t, grantee, privs)
      case None => acl.grantRole(privs.head, grantee)
    }))
  }
}

case class RevokeLakeCommand(catalogName: String, privs: Seq[String],
    table: Option[String], grantee: String) extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("snapshot_id", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val acl = SqlViews.lakeOf(spark, catalogName).acl
    Seq(Row(table match {
      case Some(t) => acl.revoke(t, grantee, privs)
      case None => acl.revokeRole(privs.head, grantee)
    }))
  }
}

case class ShowLakeRolesCommand(catalogName: String)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("role_name", StringType, nullable = false)(),
    AttributeReference("role_kind", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    SqlViews.lakeOf(spark, catalogName).acl.roles()
      .collect().toSeq.sortBy(_.getString(0))
}

case class ShowLakeGrantsCommand(catalogName: String, table: Option[String])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("schema_name", StringType, nullable = false)(),
    AttributeReference("table_name", StringType, nullable = false)(),
    AttributeReference("role_name", StringType, nullable = false)(),
    AttributeReference("privileges", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val lake = SqlViews.lakeOf(spark, catalogName)
    val all = lake.acl.grants().collect().toSeq
    val filtered = table match {
      case Some(t) =>
        val (sn, tn) = lake.schemaOf(t)
        all.filter(r => r.getString(0) == sn && r.getString(1) == tn)
      case None => all
    }
    filtered.sortBy(r => (r.getString(0), r.getString(1), r.getString(2)))
  }
}
