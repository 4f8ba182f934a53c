package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.{SqlSession, StatementClient, StatementServer}

/** system.runtime observability tables + kill_query (reference
  * MAIN/connector/system/QuerySystemTable.java, NodesSystemTable.java,
  * KillQueryProcedure.java): the statement-server registry surfaces as
  * queryable tables through the dialect, and CALL
  * system.runtime.kill_query cancels a live query. */
class SystemTablesSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val base: String = {
    Tables.registerAll(spark, sf)
    StatementServer.ensureStarted(spark, pageSize = 10)
  }

  private def sleepSql(ms: Int) =
    s"SELECT java_method('java.lang.Thread', 'sleep', ${ms}L) AS z"

  test("system.runtime.nodes reports the coordinator") {
    val rows = SqlSession.wrap(spark)
      .sql("SELECT * FROM system.runtime.nodes").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("node_id") == "graft-coordinator")
    assert(r.getAs[Boolean]("coordinator"))
    assert(r.getAs[String]("state") == "active")
  }

  test("system-table names inside literals and comments stay text") {
    val r = SqlSession.wrap(spark).sql(
      """SELECT 'see system.runtime.queries' AS q,
        |  'information_schema.tables or information_schema.columns' AS i
        |  -- system.runtime.nodes""".stripMargin).collect()(0)
    assert(r.getString(0) == "see system.runtime.queries")
    assert(r.getString(1) ==
      "information_schema.tables or information_schema.columns")
  }

  test("system.runtime.queries shows a finished query with its text") {
    base
    StatementClient.execute(spark, base,
      "SELECT count(*) AS n FROM region")
    val q = SqlSession.wrap(spark).sql(
      """SELECT state, processed_rows FROM system.runtime.queries
        |WHERE query = 'SELECT count(*) AS n FROM region'
        |ORDER BY created DESC LIMIT 1""".stripMargin).collect()
    assert(q.nonEmpty, "submitted query missing from system.runtime.queries")
    assert(q.head.getString(0) == "FINISHED")
    assert(q.head.getLong(1) == 1L)
  }

  test("CALL with a trailing ; reaches the procedure") {
    val err = intercept[IllegalArgumentException] {
      SqlSession.wrap(spark).sql("CALL system.runtime.kill_query('q');")
        .collect()
    }
    assert(err.getMessage.contains("no running query with id q"),
      err.getMessage)
  }

  test("kill_query cancels a running query; unknown id errors") {
    base
    val r0 = StatementClient.post(base, sleepSql(8000))
    // wait for it to leave QUEUED so the cancel hits a live job
    var guard = 0
    def state(): String = SqlSession.wrap(spark).sql(
      s"SELECT state FROM system.runtime.queries WHERE query_id = '${r0.id}'")
      .collect().head.getString(0)
    while (state() == "QUEUED" && guard < 200) { guard += 1; Thread.sleep(20) }
    val killed = SqlSession.wrap(spark)
      .sql(s"CALL system.runtime.kill_query(query_id => '${r0.id}')")
    assert(killed.collect().head.getLong(0) == 1L)
    guard = 0
    while (state() == "RUNNING" && guard < 200) { guard += 1; Thread.sleep(20) }
    assert(state() == "FAILED")
    val err = intercept[Exception] {
      SqlSession.wrap(spark).sql("CALL system.runtime.kill_query('nope')")
        .collect()
    }
    assert(err.getMessage.contains("no running query"))
  }
}
