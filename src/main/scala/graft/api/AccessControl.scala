package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Role-based access control statements — the reference's DCL surface
  * (SqlBase.g4:115-137,155-156: CREATE/DROP ROLE, GRANT/REVOKE roles,
  * GRANT/REVOKE table privileges, SET ROLE, SHOW ROLES / CURRENT ROLES /
  * ROLE GRANTS / GRANTS; executed by CreateRoleTask / GrantRolesTask /
  * GrantTask / SetRoleTask and checked through
  * presto-spi/.../security/AccessDeniedException.java).
  *
  * Semantics mirrored:
  *   - `public` is a built-in role every identity holds, `admin` is
  *     pre-created (the hive SqlStandardAccessControl defaults);
  *   - role grants are TRANSITIVE: enabled roles = closure of the grant
  *     graph from the user (GrantRolesTask role hierarchies), restricted
  *     by SET ROLE ALL / NONE / <role> exactly like SetRoleTask;
  *   - a table privilege (SELECT / INSERT / DELETE / UPDATE, or ALL
  *     PRIVILEGES) counts when granted to the user directly or to any
  *     enabled role; WITH GRANT OPTION / ADMIN OPTION flags round-trip
  *     into SHOW GRANTS ("Grantable") and SHOW ROLE GRANTS;
  *   - missing roles raise `Role '<r>' does not exist` (MISSING_ROLE),
  *     denied queries raise `Access Denied: Cannot select from table <t>`
  *     (AccessDeniedException.denySelectTable);
  *   - SHOW GRANTS emits the reference's 10-column shape
  *     (ShowQueriesRewrite.visitShowGrants over
  *     information_schema.table_privileges).
  *
  * Enforcement is opt-in per session (`enable(spark)`, the analog of
  * attaching an access-control plugin): when on, every plain query that
  * reaches the translate path is checked for SELECT on each referenced
  * view before execution. State is one SessionScope catalog slot, so the
  * statement server's per-request clones enforce the same roles, grants
  * and policies; at scale this is coordinator-side metadata — zero cost
  * in the data plane.
  */
object AccessControl {

  private case class RoleGrant(role: String, grantee: String,
    granteeType: String, adminOption: Boolean)
  private case class PrivGrant(privilege: String, table: String,
    grantee: String, granteeType: String, grantOption: Boolean, grantor: String)

  // ---- row filters + column masks (reference SPI SystemAccessControl
  // .getRowFilters / .getColumnMasks returning ViewExpressions the
  // analyzer splices into every scan of the table, presto-main
  // StatementAnalyzer; plugins configure them per identity) -------------
  private case class RowFilter(table: String, granteeType: String,
    grantee: String, predicate: String)
  private case class ColumnMask(table: String, column: String,
    granteeType: String, grantee: String, expression: String)

  val BuiltinRoles: Set[String] = Set("admin", "public")
  private val Privileges = Seq("SELECT", "INSERT", "DELETE", "UPDATE")

  /** One session's access-control state. */
  private case class Acl(
    roles: Set[String] = BuiltinRoles,
    roleGrants: Vector[RoleGrant] = Vector.empty,
    privGrants: Vector[PrivGrant] = Vector.empty,
    user: String = "graft",
    setRole: Option[Set[String]] = None, // None = SET ROLE ALL
    enforce: Boolean = false,
    rowFilters: Vector[RowFilter] = Vector.empty,
    columnMasks: Vector[ColumnMask] = Vector.empty)

  private val state = SessionScope.catalog(Acl())
  private def acl(spark: SparkSession): Acl = SessionScope.get(spark, state)
  private def edit(spark: SparkSession)(f: Acl => Acl): Unit =
    SessionScope.update(spark, state)(f)

  def setRowFilter(spark: SparkSession, table: String, granteeType: String,
      grantee: String, predicate: String): Unit =
    edit(spark)(a => a.copy(rowFilters = a.rowFilters :+
      RowFilter(table.toLowerCase, granteeType.toUpperCase, grantee, predicate)))
  def setColumnMask(spark: SparkSession, table: String, column: String,
      granteeType: String, grantee: String, expression: String): Unit =
    edit(spark)(a => a.copy(columnMasks = a.columnMasks :+
      ColumnMask(table.toLowerCase, column.toLowerCase,
        granteeType.toUpperCase, grantee, expression)))
  def clearPolicies(spark: SparkSession): Unit =
    edit(spark)(_.copy(rowFilters = Vector.empty, columnMasks = Vector.empty))

  private def appliesTo(a: Acl, granteeType: String, grantee: String): Boolean =
    (granteeType == "USER" && grantee == a.user) ||
      (granteeType == "ROLE" && enabledRoles(a).contains(grantee))

  /** Apply the identity's row filters and column masks by SECURING THE
    * VIEW for the duration of one statement: every policied temp view is
    * re-registered as (filters conjunctively on the RAW relation, then
    * masks projected on top under their original names — row filters see
    * unmasked data, the reference's ViewExpression ordering), the
    * statement analyzes against the secured plan, and the returned
    * closure restores the original views. Applicability is NOT decided
    * from the statement text: every policied table is secured, and any
    * other temp view whose captured plan resolves to a policied table
    * (a view or CTE defined over it, then queried by its own name) is
    * re-registered with the policied subtree spliced out for the secured
    * plan — so indirect references can't bypass the policy, matching the
    * reference's scan-time ViewExpression splice regardless of nesting.
    * Over HTTP each request runs on a session clone, so the swap is
    * invisible to concurrent queries; on a directly shared session the
    * caller holds the statement scope. */
  def secureViews(spark: SparkSession, text: String): () => Unit = {
    val a = acl(spark)
    val rf = a.rowFilters.filter(f => appliesTo(a, f.granteeType, f.grantee))
    val cm = a.columnMasks.filter(m => appliesTo(a, m.granteeType, m.grantee))
    if (rf.isEmpty && cm.isEmpty) return () => ()
    val policied = (rf.map(_.table) ++ cm.map(_.table)).distinct
      .filter(t => scala.util.Try(spark.catalog.tableExists(t)).getOrElse(false))
    if (policied.isEmpty) return () => ()
    val policiedSet = policied.toSet

    import org.apache.spark.sql.functions.{col, expr}
    /** Secured DataFrame for one policied table: filters below masks.
      * Each call yields fresh output exprIds (the trailing re-alias), so
      * splicing two occurrences into one plan can't collide. */
    def buildSecured(t: String): DataFrame = {
      val orig = spark.table(t)
      var sec = orig
      rf.filter(_.table == t).foreach(f => sec = sec.where(expr(f.predicate)))
      val masks = cm.filter(_.table == t)
      if (masks.nonEmpty) sec = sec.select(orig.columns.map { c =>
        masks.find(_.column == c.toLowerCase) match {
          case Some(m) => expr(m.expression).as(c)
          case None => col(c)
        }
      }: _*)
      sec.select(sec.columns.map(c => col(c).as(c)): _*)
    }

    // 1. re-register every policied table secured
    val policiedOriginals = policied.map { t =>
      val orig = spark.table(t)
      buildSecured(t).createOrReplaceTempView(t)
      t -> orig
    }

    // 2. re-register dependent views (captured plans resolve the policied
    //    table at definition time, so step 1 alone can't reach them)
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, ExprId}
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    val otherViews = scala.util.Try(
      spark.catalog.listTables().collect().map(_.name)
        .filterNot(v => policiedSet.contains(v.toLowerCase)).toSeq
    ).getOrElse(Seq.empty)
    val dependentOriginals = otherViews.flatMap { v =>
      scala.util.Try {
        val orig = spark.table(v)
        val plan = orig.queryExecution.analyzed
        var mapping = Map.empty[ExprId, Attribute]
        var changed = false
        val spliced = plan.transformUp {
          case s: SubqueryAlias
              if policiedSet.contains(s.identifier.name.toLowerCase) =>
            val secPlan =
              buildSecured(s.identifier.name.toLowerCase).queryExecution.analyzed
            val byName = secPlan.output.map(a => a.name.toLowerCase -> a).toMap
            if (s.output.forall(a => byName.contains(a.name.toLowerCase))) {
              s.output.foreach(a =>
                mapping += a.exprId -> byName(a.name.toLowerCase))
              changed = true
              SubqueryAlias(s.identifier, secPlan)
            } else s
        }
        if (!changed) None
        else {
          val remapped = spliced.transformAllExpressions {
            case a: AttributeReference if mapping.contains(a.exprId) =>
              val n = mapping(a.exprId)
              AttributeReference(a.name, n.dataType, n.nullable, a.metadata)(
                exprId = n.exprId, qualifier = a.qualifier)
          }
          org.apache.spark.sql.graftbridge.Bridge.dataFrame(spark, remapped)
            .createOrReplaceTempView(v)
          Some(v -> orig)
        }
      }.toOption.flatten
    }

    val originals = policiedOriginals ++ dependentOriginals
    () => originals.foreach { case (t, orig) => orig.createOrReplaceTempView(t) }
  }

  def currentUser(spark: SparkSession): String = acl(spark).user
  def setUser(spark: SparkSession, u: String): Unit = edit(spark)(_.copy(user = u))

  def enable(spark: SparkSession): Unit = edit(spark)(_.copy(enforce = true))
  def disable(spark: SparkSession): Unit = edit(spark)(_.copy(enforce = false))

  def reset(spark: SparkSession): Unit = edit(spark)(_ => Acl())

  /** Transitive closure of role grants from the current user (+ public). */
  private def applicableRoles(a: Acl): Set[String] = {
    val grants = a.roleGrants
    var acc = Set("public")
    var frontier: Set[(String, String)] = Set(("USER", a.user), ("ROLE", "public"))
    var done = Set.empty[(String, String)]
    while (frontier.nonEmpty) {
      done ++= frontier
      val next = grants.filter(g =>
        frontier.contains((g.granteeType, g.grantee))).map(_.role).toSet
      acc ++= next
      frontier = next.map(r => ("ROLE", r)).diff(done)
    }
    acc
  }

  private def enabledRoles(a: Acl): Set[String] = {
    val applicable = applicableRoles(a)
    a.setRole match {
      case None => applicable // SET ROLE ALL (default)
      case Some(sel) => sel.intersect(applicable) + "public"
    }
  }

  /** SELECT check for one view name; raises the reference's message. */
  def checkSelect(spark: SparkSession, table: String): Unit = {
    val a = acl(spark)
    if (a.enforce) {
      val held = enabledRoles(a)
      val ok = held.contains("admin") ||
        a.privGrants.exists { g =>
          g.table.equalsIgnoreCase(table) &&
            (g.privilege == "SELECT" || g.privilege == "ALL") &&
            ((g.granteeType == "USER" && g.grantee == a.user) ||
              (g.granteeType == "ROLE" && held.contains(g.grantee)))
        }
      if (!ok) throw new SecurityException(
        s"Access Denied: Cannot select from table $table")
    }
  }

  /** Check every view referenced by an analyzed plan. */
  def checkPlan(spark: SparkSession, df: DataFrame): DataFrame = {
    if (acl(spark).enforce) {
      val names = df.queryExecution.analyzed.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
          s.identifier.name
      }
      val views = spark.catalog.listTables().collect().map(_.name.toLowerCase).toSet
      names.map(_.toLowerCase).distinct.filter(views.contains)
        .foreach(checkSelect(spark, _))
    }
    df
  }

  // ---- statement dispatch ------------------------------------------------

  private val CreateRole = """(?is)\ACREATE\s+ROLE\s+(\w+)(?:\s+WITH\s+ADMIN\s+(?:USER\s+|ROLE\s+)?(\w+))?\z""".r
  private val DropRole = """(?is)\ADROP\s+ROLE\s+(\w+)\z""".r
  private val GrantPriv = """(?is)\AGRANT\s+(.+?)\s+ON\s+(?:TABLE\s+)?(\w+)\s+TO\s+(?:(USER|ROLE)\s+)?(\w+)(\s+WITH\s+GRANT\s+OPTION)?\z""".r
  private val RevokePriv = """(?is)\AREVOKE\s+(?:GRANT\s+OPTION\s+FOR\s+)?(.+?)\s+ON\s+(?:TABLE\s+)?(\w+)\s+FROM\s+(?:(USER|ROLE)\s+)?(\w+)\z""".r
  private val GrantRoles = """(?is)\AGRANT\s+([\w\s,]+?)\s+TO\s+(?:(USER|ROLE)\s+)?(\w+)(\s+WITH\s+ADMIN\s+OPTION)?\z""".r
  private val RevokeRoles = """(?is)\AREVOKE\s+(?:ADMIN\s+OPTION\s+FOR\s+)?([\w\s,]+?)\s+FROM\s+(?:(USER|ROLE)\s+)?(\w+)\z""".r
  private val SetRoleSt = """(?is)\ASET\s+ROLE\s+(ALL|NONE|\w+)\z""".r
  private val ShowRoles = """(?is)\ASHOW\s+ROLES\z""".r
  private val ShowCurRoles = """(?is)\ASHOW\s+CURRENT\s+ROLES\z""".r
  private val ShowRoleGrants = """(?is)\ASHOW\s+ROLE\s+GRANTS\z""".r
  private val ShowGrants = """(?is)\ASHOW\s+GRANTS(?:\s+ON\s+(?:TABLE\s+)?(\w+))?\z""".r

  def dispatch(ses: SqlSession, text: String): Option[DataFrame] = {
    val spark = ses.spark
    val a = acl(spark)
    def missing(r: String) =
      throw new IllegalArgumentException(s"Role '$r' does not exist")
    def requireRoles(rs: Seq[String]): Unit =
      rs.find(r => !a.roles.contains(r)).foreach(missing)
    text.trim.stripSuffix(";").trim match {
      case CreateRole(name, admin) =>
        val r = name.toLowerCase
        if (admin != null && !a.roles.contains(admin.toLowerCase) &&
          admin.toLowerCase != a.user) missing(admin.toLowerCase)
        edit(spark) { b =>
          val created = b.copy(roles = b.roles + r)
          if (admin == null) created
          else addRoleGrant(created,
            RoleGrant(r, admin.toLowerCase, "ROLE", adminOption = true))
        }
        Some(status(spark, "CREATE ROLE"))
      case DropRole(name) =>
        val r = name.toLowerCase
        if (BuiltinRoles.contains(r))
          throw new IllegalArgumentException(s"Cannot drop role $r")
        if (!a.roles.contains(r)) missing(r)
        edit(spark)(b => b.copy(roles = b.roles - r,
          roleGrants = b.roleGrants.filterNot(g =>
            g.role == r || (g.granteeType == "ROLE" && g.grantee == r))))
        Some(status(spark, "DROP ROLE"))
      case GrantPriv(privs, table, gType, grantee, withOpt) =>
        val ps = parsePrivileges(privs)
        if (ps.nonEmpty) {
          val gt = principalType(gType, grantee, a)
          if (gt == "ROLE") requireRoles(Seq(grantee.toLowerCase))
          val gn = grantee.toLowerCase
          edit(spark)(b => ps.foldLeft(b)((c, p) => addPrivGrant(c,
            PrivGrant(p, table.toLowerCase, gn, gt, withOpt != null, a.user))))
          Some(status(spark, "GRANT"))
        } else None // not privilege keywords → let other dispatchers try
      case RevokePriv(privs, table, gType, grantee) =>
        val ps = parsePrivileges(privs)
        if (ps.nonEmpty) {
          val gt = principalType(gType, grantee, a)
          val gn = grantee.toLowerCase
          edit(spark)(b => b.copy(privGrants = b.privGrants.filterNot(g =>
            ps.contains(g.privilege) && g.table == table.toLowerCase &&
              g.grantee == gn && g.granteeType == gt)))
          Some(status(spark, "REVOKE"))
        } else None
      case GrantRoles(rs, gType, grantee, withAdmin) =>
        val roleList = rs.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq
        if (roleList.forall(a.roles.contains)) {
          val gt = principalType(gType, grantee, a)
          edit(spark)(b => roleList.foldLeft(b)((c, r) => addRoleGrant(c,
            RoleGrant(r, grantee.toLowerCase, gt, withAdmin != null))))
          Some(status(spark, "GRANT ROLE"))
        } else if (gType != null || roleList.exists(a.roles.contains)) {
          // clearly role-shaped (explicit USER/ROLE or a known role) → raise
          requireRoles(roleList); None
        } else None // unknown single name: likely a privilege-less GRANT typo
      case RevokeRoles(rs, gType, grantee) =>
        val roleList = rs.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq
        if (roleList.forall(a.roles.contains)) {
          val gt = principalType(gType, grantee, a)
          val gn = grantee.toLowerCase
          edit(spark)(b => b.copy(roleGrants = b.roleGrants.filterNot(g =>
            roleList.contains(g.role) && g.grantee == gn && g.granteeType == gt)))
          Some(status(spark, "REVOKE ROLE"))
        } else None
      case SetRoleSt(which) =>
        val sel = which.toUpperCase match {
          case "ALL" => None
          case "NONE" => Some(Set.empty[String])
          case _ =>
            val r = which.toLowerCase
            if (!applicableRoles(a).contains(r))
              throw new IllegalArgumentException(s"Cannot set role $r")
            Some(Set(r))
        }
        edit(spark)(_.copy(setRole = sel))
        Some(status(spark, "SET ROLE"))
      case ShowRoles() =>
        Some(strings(spark, "role_name", a.roles.toSeq.sorted))
      case ShowCurRoles() =>
        Some(strings(spark, "role_name", enabledRoles(a).toSeq.sorted))
      case ShowRoleGrants() =>
        Some(strings(spark, "role_name",
          ("public" +: a.roleGrants
            .filter(g => g.granteeType == "USER" && g.grantee == a.user)
            .map(_.role)).distinct.sorted))
      case ShowGrants(table) =>
        val rows = a.privGrants
          .filter(g => table == null || g.table == table.toLowerCase)
          .sortBy(g => (g.table, g.grantee, g.privilege))
          .map(g => Row(g.grantor, "USER", g.grantee, g.granteeType,
            "graft", "default", g.table, g.privilege,
            if (g.grantOption) "YES" else "NO", "NO"))
        val schema = StructType(Seq("Grantor", "Grantor Type", "Grantee",
          "Grantee Type", "Catalog", "Schema", "Table", "Privilege",
          "Grantable", "With Hierarchy")
          .map(StructField(_, StringType, nullable = true)))
        Some(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema))
      case _ => None
    }
  }

  private def addRoleGrant(a: Acl, g: RoleGrant): Acl =
    if (a.roleGrants.contains(g)) a else a.copy(roleGrants = a.roleGrants :+ g)

  /** A re-grant replaces the old one (the grant option may change). */
  private def addPrivGrant(a: Acl, g: PrivGrant): Acl =
    a.copy(privGrants = a.privGrants.filterNot(o => o.privilege == g.privilege &&
      o.table == g.table && o.grantee == g.grantee &&
      o.granteeType == g.granteeType) :+ g)

  /** "SELECT, INSERT" → Seq("SELECT","INSERT"); "ALL PRIVILEGES" →
    * Seq("ALL"); anything non-privilege → empty (→ role-grant path). */
  private def parsePrivileges(raw: String): Seq[String] = {
    val up = raw.trim.toUpperCase
    if (up == "ALL PRIVILEGES" || up == "ALL") Seq("ALL")
    else {
      val parts = up.split(',').map(_.trim).toSeq
      if (parts.forall(Privileges.contains)) parts else Seq.empty
    }
  }

  /** Explicit USER/ROLE keyword wins; otherwise a known role name is a
    * role, anything else a user (the reference's PrincipalSpecification
    * UNSPECIFIED resolution). */
  private def principalType(explicit: String, name: String, a: Acl): String =
    if (explicit != null) explicit.toUpperCase
    else if (a.roles.contains(name.toLowerCase)) "ROLE"
    else "USER"

  private def strings(spark: SparkSession, col: String, vs: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(Row(_)), 1),
      StructType(Seq(StructField(col, StringType, nullable = false))))

  private def status(spark: SparkSession, s: String): DataFrame =
    DdlStatements.statusResult(spark, s)
}
