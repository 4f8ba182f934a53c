package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{AccessControl, SqlSession, StatementClient, StatementServer}

/** DCL statement family + opt-in SELECT enforcement
  * (api/AccessControl.scala). */
class DclSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  // statement-server clones inherit the shared session's access control
  override def afterAll(): Unit = AccessControl.reset(spark)

  private def fresh(): SqlSession = {
    AccessControl.reset(spark)
    Tables(spark, sf, "nation").createOrReplaceTempView("nation")
    Tables(spark, sf, "region").createOrReplaceTempView("region")
    SqlSession.wrap(spark)
  }

  test("roles: create/grant/set/show, transitive enablement") {
    val q = fresh()
    q.sql("CREATE ROLE outer_r")
    q.sql("CREATE ROLE inner_r")
    q.sql("GRANT inner_r TO ROLE outer_r")
    q.sql("GRANT outer_r TO USER graft")
    assert(q.sql("SHOW ROLES").collect().map(_.getString(0)).toSet ==
      Set("admin", "public", "inner_r", "outer_r"))
    // ALL (default): closure includes the nested role
    assert(q.sql("SHOW CURRENT ROLES").collect().map(_.getString(0)).toSet ==
      Set("public", "inner_r", "outer_r"))
    q.sql("SET ROLE NONE")
    assert(q.sql("SHOW CURRENT ROLES").collect().map(_.getString(0)).toSet ==
      Set("public"))
    q.sql("SET ROLE outer_r")
    assert(q.sql("SHOW CURRENT ROLES").collect().map(_.getString(0)).toSet ==
      Set("public", "outer_r"))
    assert(q.sql("SHOW ROLE GRANTS").collect().map(_.getString(0)).toSet ==
      Set("public", "outer_r"))
    AccessControl.reset(spark)
  }

  test("missing role raises the reference message") {
    val q = fresh()
    val e = intercept[IllegalArgumentException] {
      q.sql("GRANT no_such_role TO USER graft")
    }
    assert(e.getMessage == "Role 'no_such_role' does not exist")
    val e2 = intercept[IllegalArgumentException] { q.sql("DROP ROLE ghost") }
    assert(e2.getMessage == "Role 'ghost' does not exist")
    AccessControl.reset(spark)
  }

  test("enforcement: deny without grant, allow via role, revoke re-denies") {
    val q = fresh()
    AccessControl.enable(spark)
    try {
      val e = intercept[SecurityException] {
        q.sql("SELECT count(*) FROM nation").collect()
      }
      assert(e.getMessage == "Access Denied: Cannot select from table nation")
      q.sql("CREATE ROLE geo")
      q.sql("GRANT geo TO USER graft")
      q.sql("GRANT SELECT ON nation TO ROLE geo")
      assert(q.sql("SELECT count(*) FROM nation").head.getLong(0) == 25L)
      // join still checks EVERY referenced table
      intercept[SecurityException] {
        q.sql("SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey").collect()
      }
      q.sql("GRANT ALL PRIVILEGES ON region TO USER graft")
      assert(q.sql(
        "SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey")
        .head.getLong(0) == 25L)
      q.sql("REVOKE SELECT ON nation FROM ROLE geo")
      intercept[SecurityException] {
        q.sql("SELECT count(*) FROM nation").collect()
      }
      // SET ROLE NONE disables role-carried privileges
      q.sql("GRANT SELECT ON nation TO ROLE geo")
      q.sql("SET ROLE NONE")
      intercept[SecurityException] {
        q.sql("SELECT count(*) FROM nation").collect()
      }
      // admin bypasses
      q.sql("SET ROLE ALL")
      q.sql("GRANT admin TO USER graft")
      assert(q.sql("SELECT count(*) FROM region").head.getLong(0) == 5L)
    } finally {
      AccessControl.disable(spark)
      AccessControl.reset(spark)
    }
  }

  test("row filters constrain only the targeted identity") {
    val q = fresh()
    try {
      val all = q.sql("SELECT count(*) AS c FROM nation").head.getLong(0)
      AccessControl.setUser(spark, "alice")
      AccessControl.setRowFilter(spark, "nation", "USER", "alice",
        "n_regionkey = 0")
      val filtered = q.sql("SELECT count(*) AS c FROM nation").head.getLong(0)
      assert(filtered < all && filtered > 0)
      assert(q.sql("SELECT DISTINCT n_regionkey FROM nation")
        .collect().map(_.getAs[Number](0).longValue).toSeq == Seq(0L))
      // a different user is unconstrained
      AccessControl.setUser(spark, "bob")
      assert(q.sql("SELECT count(*) AS c FROM nation").head.getLong(0) == all)
      // two filters apply conjunctively
      AccessControl.setUser(spark, "alice")
      AccessControl.setRowFilter(spark, "nation", "USER", "alice",
        "n_nationkey < 3")
      val both = q.sql("SELECT count(*) AS c FROM nation").head.getLong(0)
      assert(both <= filtered && both <= 3)
    } finally AccessControl.reset(spark)
  }

  test("column masks rewrite the column under its own name, role-targeted") {
    val q = fresh()
    try {
      q.sql("CREATE ROLE masked_r")
      q.sql("GRANT masked_r TO USER carol")
      AccessControl.setUser(spark, "carol")
      AccessControl.setColumnMask(spark, "nation", "n_name", "ROLE",
        "masked_r", "concat(substring(n_name, 1, 1), '***')")
      val rows = q.sql("SELECT n_name FROM nation ORDER BY n_nationkey")
        .collect().map(_.getString(0))
      assert(rows.forall(_.endsWith("***")), rows.take(3).mkString(","))
      // schema keeps the original column name
      assert(q.sql("SELECT n_name FROM nation").columns.toSeq == Seq("n_name"))
      // filters compose with masks and see the REAL column values: the
      // filter applies below the mask projection (the reference's
      // ViewExpression ordering — row filters evaluate on unmasked data)
      AccessControl.setRowFilter(spark, "nation", "USER", "carol",
        "n_name IN ('NATION_1', 'NATION_2')")
      val n = q.sql("SELECT count(*) AS c FROM nation").head.getLong(0)
      assert(n == 2) // matches real names, which the mask rewrites to 'N***'
      // …while the output of those surviving rows is still masked
      val out = q.sql("SELECT n_name FROM nation").collect().map(_.getString(0))
      assert(out.nonEmpty && out.forall(_.endsWith("***")))
      // a filter matching only MASKED text selects nothing (it runs on
      // the clear values)
      AccessControl.reset(spark)
      Tables(spark, sf, "nation").createOrReplaceTempView("nation")
      AccessControl.setUser(spark, "carol")
      AccessControl.setColumnMask(spark, "nation", "n_name", "USER",
        "carol", "concat(substring(n_name, 1, 1), '***')")
      AccessControl.setRowFilter(spark, "nation", "USER", "carol",
        "n_name LIKE '%***'")
      assert(q.sql("SELECT count(*) AS c FROM nation").head.getLong(0) == 0L)
      // untargeted identity sees clear values
      AccessControl.setUser(spark, "dave")
      val clear = q.sql("SELECT n_name FROM nation").collect().map(_.getString(0))
      assert(clear.exists(!_.endsWith("***")))
    } finally AccessControl.reset(spark)
  }

  test("policies and enforcement reach reads sent through /v1/statement") {
    val q = fresh()
    val base = StatementServer.ensureStarted(spark, pageSize = 10)
    val sql = "SELECT count(*) AS c FROM nation"
    def viaHttp() = StatementClient.execute(spark, base, sql).head.getLong(0)
    try {
      AccessControl.setUser(spark, "alice")
      AccessControl.setRowFilter(spark, "nation", "USER", "alice",
        "n_regionkey = 0")
      val direct = q.sql(sql).head.getLong(0)
      assert(direct == 5L)
      assert(viaHttp() == direct)
      AccessControl.enable(spark)
      val e = intercept[RuntimeException](viaHttp())
      assert(e.getMessage.contains("Access Denied: Cannot select from table nation"),
        e.getMessage)
    } finally AccessControl.reset(spark)
  }

  test("policies reach indirect references (temp views over the table)") {
    val q = fresh()
    try {
      // view defined over the policied table BEFORE the policy exists —
      // its captured plan resolves nation directly, so re-registering
      // nation alone can't secure it
      q.sql("CREATE TEMP VIEW nation_v AS SELECT n_nationkey, n_name, n_regionkey FROM nation")
      q.sql("CREATE TEMP VIEW nation_vv AS SELECT n_name, n_regionkey FROM nation_v WHERE n_nationkey >= 0")
      AccessControl.setUser(spark, "alice")
      AccessControl.setRowFilter(spark, "nation", "USER", "alice",
        "n_regionkey = 0")
      AccessControl.setColumnMask(spark, "nation", "n_name", "USER",
        "alice", "concat(substring(n_name, 1, 1), '***')")
      // direct reference
      assert(q.sql("SELECT count(*) AS c FROM nation").head.getLong(0) == 5L)
      // one level of view nesting
      assert(q.sql("SELECT count(*) AS c FROM nation_v").head.getLong(0) == 5L)
      val vNames = q.sql("SELECT n_name FROM nation_v").collect().map(_.getString(0))
      assert(vNames.forall(_.endsWith("***")))
      // two levels of nesting
      assert(q.sql("SELECT count(*) AS c FROM nation_vv").head.getLong(0) == 5L)
      val vvNames = q.sql("SELECT n_name FROM nation_vv").collect().map(_.getString(0))
      assert(vvNames.forall(_.endsWith("***")))
      // CTE over the view by its own name
      assert(q.sql(
        "WITH x AS (SELECT * FROM nation_v) SELECT count(*) AS c FROM x")
        .head.getLong(0) == 5L)
      // a different user still sees everything through the same views
      AccessControl.setUser(spark, "bob")
      assert(q.sql("SELECT count(*) AS c FROM nation_v").head.getLong(0) == 25L)
      assert(q.sql("SELECT n_name FROM nation_vv").collect()
        .map(_.getString(0)).exists(!_.endsWith("***")))
    } finally {
      spark.catalog.dropTempView("nation_v")
      spark.catalog.dropTempView("nation_vv")
      AccessControl.reset(spark)
    }
  }
}
