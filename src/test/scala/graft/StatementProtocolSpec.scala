package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.{StatementClient, StatementServer}

/** The `POST /v1/statement` protocol (api/StatementServer.scala) — the
  * reference's QueuedStatementResource.java / ExecutingStatementResource
  * .java lifecycle over real localhost HTTP: queued -> running ->
  * finished state transitions, result paging via nextUri, the
  * QueryError shape for failed queries (QueryError.java:26-44), and
  * DELETE cancellation (USER_CANCELED, StandardErrorCode.java). */
class StatementProtocolSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val base: String = {
    Tables.registerAll(spark, sf)
    StatementServer.ensureStarted(spark, pageSize = 10)
  }

  test("submit returns QUEUED with a queued nextUri; poll reaches FINISHED") {
    val r0 = StatementClient.post(base,
      "SELECT r_regionkey AS k, r_name FROM region ORDER BY k")
    assert(r0.id.nonEmpty)
    assert(r0.state == "QUEUED")
    assert(r0.nextUri.exists(_.contains("/v1/statement/queued/")))
    assert(r0.columns.isEmpty && r0.data.isEmpty && r0.error.isEmpty)

    // follow the protocol by hand; record every state we see
    var states = Vector(r0.state)
    var r = r0
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1
      r = StatementClient.advance(r.nextUri.get)
      states :+= r.state
    }
    assert(r.error.isEmpty, r.error.toString)
    assert(states.last == "FINISHED")
    // every observed state is from the legal client-visible set, and the
    // sequence is monotone QUEUED* (RUNNING)* FINISHED
    val rank = Map("QUEUED" -> 0, "RUNNING" -> 1, "FINISHED" -> 2)
    assert(states.forall(rank.contains), states.toString)
    assert(states.map(rank) == states.map(rank).sorted, states.toString)
  }

  test("multi-page result chains nextUri and reassembles losslessly") {
    val sql = "SELECT c_custkey AS k, c_name, c_acctbal " +
      "FROM customer WHERE c_custkey < 45 ORDER BY k" // keys start at 0
    val viaHttp = StatementClient.execute(spark, base, sql)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val direct = graft.api.SqlSession.wrap(spark).sql(sql)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(viaHttp.length == 45) // 45 rows at pageSize=10 -> 5 pages
    assert(viaHttp.toSeq == direct.toSeq)
  }

  test("value serde round-trips dates, decimals, arrays, maps and structs") {
    val sql = """SELECT 1 AS k, DATE '2021-06-15' AS d,
      | CAST(12.345 AS DECIMAL(10,3)) AS dec,
      | array(1, 2, 3) AS arr,
      | map('a', CAST(1.5 AS DOUBLE), 'b', CAST(NULL AS DOUBLE)) AS m,
      | named_struct('x', 7, 'y', 'hi') AS st,
      | CAST(NULL AS STRING) AS miss""".stripMargin
    val row = StatementClient.execute(spark, base, sql).collect()(0)
    assert(row.getAs[java.sql.Date]("d").toString == "2021-06-15")
    assert(row.getAs[java.math.BigDecimal]("dec").toPlainString == "12.345")
    assert(row.getSeq[Int](row.fieldIndex("arr")).toList == List(1, 2, 3))
    assert(row.getMap[String, Any](row.fieldIndex("m")).toMap ==
      Map("a" -> 1.5, "b" -> null))
    assert(row.getAs[org.apache.spark.sql.Row]("st").toSeq == Seq(7, "hi"))
    assert(row.isNullAt(row.fieldIndex("miss")))
  }

  test("empty result still delivers columns and FINISHED") {
    val df = StatementClient.execute(spark, base,
      "SELECT r_name FROM region WHERE r_regionkey < 0")
    assert(df.columns.toSeq == Seq("r_name"))
    assert(df.count() == 0)
  }

  test("a failing query surfaces the QueryError shape") {
    val r0 = StatementClient.post(base, "SELECT FROM nonsense !!")
    var r = r0
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1
      r = StatementClient.advance(r.nextUri.get)
    }
    assert(r.state == "FAILED")
    val e = r.error.getOrElse(fail("no error payload"))
    assert(e.message.nonEmpty)
    assert(e.errorName == "SYNTAX_ERROR")
    assert(e.errorType == "USER_ERROR")
    assert(e.errorCode == 1)
  }

  // a deterministic slow query: one row, one executor-side sleep
  private def sleepSql(ms: Int) =
    s"SELECT java_method('java.lang.Thread', 'sleep', ${ms}L) AS z"

  test("DELETE cancels a queued query (USER_CANCELED)") {
    // occupy EVERY dispatch slot so the victim stays QUEUED
    // deterministically while we cancel it
    val blockers = (1 to StatementServer.DispatchThreads)
      .map(_ => StatementClient.post(base, sleepSql(5000)))
    val victim = StatementClient.post(base, "SELECT 1 AS one")
    assert(StatementClient.cancel(victim.nextUri.get) == 204)
    var r = StatementClient.advance(victim.nextUri.get)
    assert(r.state == "FAILED")
    val e = r.error.getOrElse(fail("no error payload"))
    assert(e.errorName == "USER_CANCELED" && e.errorCode == 3)
    // release the slots for the other tests
    blockers.foreach(b => StatementClient.cancel(b.nextUri.get))
  }

  test("a short query completes while a long one occupies its slot") {
    // the reference dispatches concurrently (DispatchManager.java:234);
    // a single-lane server would head-of-line block the short query
    val blocker = StatementClient.post(base, sleepSql(8000))
    val quick = StatementClient.execute(spark, base, "SELECT 5 AS v")
      .collect()
    assert(quick.map(_.getInt(0)).toSeq == Seq(5))
    val st = StatementClient.advance(blocker.nextUri.get).state
    assert(st == "QUEUED" || st == "RUNNING", s"blocker already $st")
    StatementClient.cancel(blocker.nextUri.get)
  }

  test("resource groups: hard concurrency + queue limits admit like the reference") {
    // group rg_test: 1 running, 1 queued, selected by X-Presto-User
    StatementServer.configureResourceGroups(Seq(
      StatementServer.ResourceGroup("rg_test", 1, 1,
        userRegex = Some("rg_user"))))
    try {
      val h = Map("X-Presto-User" -> "rg_user")
      val a = StatementClient.post(base, sleepSql(6000), h) // takes the slot
      val b = StatementClient.post(base, "SELECT 1 AS x", h) // queues
      val c = StatementClient.post(base, "SELECT 2 AS x", h) // queue full
      val rc = StatementClient.advance(c.nextUri.get)
      assert(rc.state == "FAILED")
      val e = rc.error.getOrElse(fail("no error payload"))
      assert(e.errorName == "QUERY_QUEUE_FULL" && e.errorCode == 0x20002 &&
        e.errorType == "INSUFFICIENT_RESOURCES" &&
        e.message.contains("rg_test"), e.toString)
      // b is genuinely queued behind the group limit, not running
      assert(StatementClient.advance(b.nextUri.get).state == "QUEUED")
      // other users flow through the global group untouched
      assert(StatementClient.execute(spark, base, "SELECT 3 AS x")
        .collect()(0).getInt(0) == 3)
      // releasing the slot lets the queued query run to completion
      StatementClient.cancel(a.nextUri.get)
      var r = b
      var guard = 0
      val rows = Vector.newBuilder[org.apache.spark.sql.Row]
      while (r.nextUri.isDefined && guard < 10000) {
        guard += 1
        if (r.data.isEmpty && r.columns.isEmpty) Thread.sleep(5)
        rows ++= r.data
        r = StatementClient.advance(r.nextUri.get)
      }
      rows ++= r.data
      assert(r.error.isEmpty, r.error.toString)
      assert(rows.result().map(_.getInt(0)) == Vector(1))
    } finally StatementServer.configureResourceGroups(Seq.empty)
  }

  test("large results stream through a bounded page window") {
    Tables.registerAll(spark, sf)
    val expected = spark.table("customer").count()
    assert(expected > 100) // 15 pages at pageSize=10
    val r0 = StatementClient.post(base,
      "SELECT c_custkey AS k FROM customer ORDER BY k")
    var r = r0
    var n = 0
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1; n += r.data.size
      r = StatementClient.advance(r.nextUri.get)
    }
    n += r.data.size
    assert(r.error.isEmpty, r.error.toString)
    assert(n.toLong == expected)
    // the server never materialized the result: at most the window's
    // pages were ever buffered (toLocalIterator-backed paging)
    val hw = StatementServer.bufferedPagesHighWater(r0.id)
    assert(hw >= 1 && hw <= 3, s"window high-water $hw")
  }

  test("unknown query id is a 404; expired page token is a 410") {
    assert(StatementClient.http("GET",
      s"$base/v1/statement/queued/nope_00000_graft/1", None)._1 == 404)
    val done = StatementClient.post(base, "SELECT 42 AS x")
    var r = done
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1
      r = StatementClient.advance(r.nextUri.get)
    }
    assert(StatementClient.http("GET",
      s"$base/v1/statement/executing/${done.id}/99", None)._1 == 410)
  }

  test("X-Presto-Session header sets per-request session context") {
    // the header context is visible to the statement, then unwound
    val r0 = StatementClient.post(base, "SHOW SESSION",
      Map("X-Presto-Session" -> "optimize_hash_generation=true"))
    val df = {
      var r = r0
      val rows = Vector.newBuilder[org.apache.spark.sql.Row]
      var guard = 0
      while (r.nextUri.isDefined && guard < 10000) {
        guard += 1; rows ++= r.data
        r = StatementClient.advance(r.nextUri.get)
      }
      rows ++= r.data
      rows.result()
    }
    assert(df.exists(row => row.getString(0) == "optimize_hash_generation" &&
      row.getString(1) == "true"), df.map(_.toString).mkString("; "))
    // unwound: a headerless SHOW SESSION no longer lists the property
    val after = StatementClient.execute(spark, base, "SHOW SESSION")
      .collect()
    assert(!after.exists(_.getString(0) == "optimize_hash_generation"))
  }

  test("X-Presto-Prepared-Statement header makes EXECUTE work") {
    val sql = java.net.URLEncoder.encode(
      "SELECT r_regionkey AS k FROM region ORDER BY k", "UTF-8")
    val r0 = StatementClient.post(base, "EXECUTE stmt_hdr",
      Map("X-Presto-Prepared-Statement" -> s"stmt_hdr=$sql"))
    var r = r0
    var n = 0
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1; n += r.data.size
      r = StatementClient.advance(r.nextUri.get)
    }
    n += r.data.size
    assert(r.error.isEmpty, r.error.toString)
    assert(n == 5)
  }

  test("SET SESSION / PREPARE statements earn protocol response headers") {
    def finalHeaders(sql: String,
        reqHeaders: Map[String, String] = Map.empty): Map[String, String] = {
      var r = StatementClient.post(base, sql, reqHeaders)
      var hdrs = Map.empty[String, String]
      var guard = 0
      while (r.nextUri.isDefined && guard < 10000) {
        guard += 1
        val (r2, h2) = StatementClient.advanceFull(r.nextUri.get)
        r = r2
        if (h2.nonEmpty) hdrs = h2
      }
      hdrs
    }
    val set = finalHeaders("SET SESSION optimize_hash_generation = 'true'")
    assert(set.get("X-Presto-Set-Session")
      .contains("optimize_hash_generation=true"), set.toString)
    // the statement's effect lives on the CLIENT via the header, not in
    // shared server state: a headerless SHOW SESSION must not list it
    assert(!StatementClient.execute(spark, base, "SHOW SESSION")
      .collect().exists(_.getString(0) == "optimize_hash_generation"))
    // the header carries the value SET SESSION applied ('' is one quote),
    // so a client resending it reproduces that value
    val quoted = finalHeaders("SET SESSION optimize_hash_generation = 'it''s'")
    val kv = quoted("X-Presto-Set-Session")
    assert(java.net.URLDecoder.decode(kv, "UTF-8") ==
      "optimize_hash_generation=it's", kv)
    var r = StatementClient.post(base, "SHOW SESSION",
      Map("X-Presto-Session" -> kv))
    val shown = Vector.newBuilder[org.apache.spark.sql.Row]
    while (r.nextUri.isDefined) {
      shown ++= r.data
      r = StatementClient.advance(r.nextUri.get)
    }
    shown ++= r.data
    assert(shown.result().exists(row =>
      row.getString(0) == "optimize_hash_generation" &&
        row.getString(1) == "it's"), shown.result().toString)
    val prep = finalHeaders("PREPARE hdr_q FROM SELECT 1 AS one")
    assert(prep.get("X-Presto-Added-Prepare").exists(_.startsWith("hdr_q=")),
      prep.toString)
    // DEALLOCATE is submitted with the prepare carried back, as a
    // protocol-conformant client does
    val dealloc = finalHeaders("DEALLOCATE PREPARE hdr_q",
      Map("X-Presto-Prepared-Statement" -> prep("X-Presto-Added-Prepare")))
    assert(dealloc.get("X-Presto-Deallocated-Prepare").contains("hdr_q"),
      dealloc.toString)
  }

  test("a function and a type created over the wire serve the next request") {
    def run(sql: String) = StatementClient.execute(spark, base, sql).collect()
    run("CREATE FUNCTION proto_inc(x bigint) RETURNS bigint RETURN x + 1")
    run("""CREATE TYPE proto_mood AS BigintEnum(proto_mood{"HAPPY":0, "SAD":1})""")
    try {
      val row = run(
        "SELECT proto_inc(41) AS v, enum_key('proto_mood', 1) AS k")(0)
      assert(row.getLong(0) == 42L && row.getString(1) == "SAD", row)
    } finally {
      run("DROP FUNCTION proto_inc")
      run("DROP TYPE proto_mood")
    }
  }

  test("/v1/info and the infoUri /v1/query/{id} endpoints answer") {
    val (code, body, _) =
      StatementClient.httpFull("GET", s"$base/v1/info", None, Map.empty)
    assert(code == 200)
    assert(body.contains("\"coordinator\":true") &&
      body.contains("\"nodeVersion\""))
    val done = StatementClient.post(base, "SELECT 7 AS seven")
    var r = done
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1
      r = StatementClient.advance(r.nextUri.get)
    }
    val (qc, qb, _) = StatementClient.httpFull("GET",
      s"$base/v1/query/${done.id}", None, Map.empty)
    assert(qc == 200)
    assert(qb.contains(s""""queryId":"${done.id}"""") &&
      qb.contains(""""state":"FINISHED"""") &&
      qb.contains("SELECT 7 AS seven"))
    assert(StatementClient.httpFull("GET", s"$base/v1/query/nope", None,
      Map.empty)._1 == 404)
  }

  test("queued retry re-submits the same statement as a new query") {
    val orig = StatementClient.post(base, "SELECT 11 AS x")
    var r = orig
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1
      r = StatementClient.advance(r.nextUri.get)
    }
    val (code, body) = StatementClient.http("GET",
      s"$base/v1/statement/queued/retry/${orig.id}", None)
    assert(code == 200)
    val retried = StatementClient.parse(body)
    assert(retried.id != orig.id)
    var r2 = retried
    val rows = Vector.newBuilder[org.apache.spark.sql.Row]
    guard = 0
    while (r2.nextUri.isDefined && guard < 10000) {
      guard += 1; rows ++= r2.data
      r2 = StatementClient.advance(r2.nextUri.get)
    }
    rows ++= r2.data
    assert(r2.error.isEmpty)
    assert(rows.result().map(_.getInt(0)) == Vector(11))
  }

  test("concurrent clients get isolated, correct results") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futures = (1 to 8).map { i =>
      Future {
        val df = StatementClient.execute(spark, base,
          s"SELECT CAST(r_regionkey + $i AS BIGINT) AS v FROM region ORDER BY v")
        df.collect().map(_.getLong(0)).toSeq
      }
    }
    val results = Await.result(Future.sequence(futures), 120.seconds)
    results.zipWithIndex.foreach { case (vs, idx) =>
      val i = idx + 1
      assert(vs == (0L until 5L).map(_ + i), s"client $i got $vs")
    }
  }

  test("binaryResults=true serves SerializedPages identical to JSON rows") {
    Tables.registerAll(spark, sf)
    val sql = "SELECT c_custkey AS k, c_name, c_acctbal, " +
      "c_custkey % 2 = 0 AS even FROM customer WHERE c_custkey < 45 " +
      "ORDER BY k"
    val json = StatementClient.execute(spark, base, sql).collect()
    val bin = StatementClient.execute(spark, base, sql, binary = true)
      .collect()
    assert(bin.length == json.length && bin.length == 45)
    json.zip(bin).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("lake scans, DML and CALL procedures work over the wire") {
    import spark.implicits._
    import graft.ops.DeltaLake
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_proto_lake_${System.nanoTime()}")
    dir.mkdirs()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    DeltaLake.writeDataFile(df.filter($"k" === 1), dir, "f0.parquet")
    DeltaLake.writeDataFile(df.filter($"k" > 1), dir, "f1.parquet")
    DeltaLake.commit(dir, 0, Seq(DeltaLake.protocolAction,
      DeltaLake.metaDataAction(df.schema),
      DeltaLake.addAction("f0.parquet"), DeltaLake.addAction("f1.parquet")))
    // a scan, a row-level DELETE, and a maintenance CALL — all through
    // POST /v1/statement like any reference client would issue them
    val n0 = StatementClient.execute(spark, base,
      s"SELECT count(*) AS n FROM delta_scan('${dir.getPath}')")
      .collect()(0)
    assert(n0.getLong(0) == 3L)
    val del = StatementClient.execute(spark, base,
      s"DELETE FROM delta_scan('${dir.getPath}') WHERE k = 3").collect()(0)
    assert(del.getLong(0) == 1L)
    val opt = StatementClient.execute(spark, base,
      s"CALL system.optimize('${dir.getPath}')").collect()(0)
    assert(opt.getLong(0) == 2L) // f0 + the rewritten f1 bin-pack
    assert(StatementClient.execute(spark, base,
      s"SELECT k FROM delta_scan('${dir.getPath}') ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  private def pagesOf(r0: StatementClient.Response)
      : Vector[org.apache.spark.sql.Row] = {
    var r = r0
    val rows = Vector.newBuilder[org.apache.spark.sql.Row]
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1; rows ++= r.data
      r = StatementClient.advance(r.nextUri.get)
    }
    rows ++= r.data
    rows.result()
  }

  test("session property manager: matched rules inject defaults, client wins") {
    StatementServer.configureSessionPropertyRules(Seq(
      StatementServer.SessionPropertyRule(Some("etl_.*"), None,
        Seq("quality_tier" -> "gold"))))
    try {
      // matching user sees the rule's default
      val hit = pagesOf(StatementClient.post(base, "SHOW SESSION",
        Map("X-Presto-User" -> "etl_nightly")))
      assert(hit.exists(r => r.getString(0) == "quality_tier" &&
        r.getString(1) == "gold"), hit.map(_.toString).mkString("; "))
      // non-matching user does not
      val miss = pagesOf(StatementClient.post(base, "SHOW SESSION",
        Map("X-Presto-User" -> "bob")))
      assert(!miss.exists(_.getString(0) == "quality_tier"))
      // an explicit client property overrides the rule default
      val over = pagesOf(StatementClient.post(base, "SHOW SESSION",
        Map("X-Presto-User" -> "etl_nightly",
          "X-Presto-Session" -> "quality_tier=silver")))
      assert(over.exists(r => r.getString(0) == "quality_tier" &&
        r.getString(1) == "silver"), over.map(_.toString).mkString("; "))
    } finally StatementServer.configureSessionPropertyRules(Seq.empty)
  }

  test("password authenticator: 401 without/with wrong creds, 200 with right") {
    StatementServer.configurePasswordAuth(
      Map("alice" -> StatementServer.sha256Hex("secret")))
    try {
      def basic(cred: String) = "Basic " +
        java.util.Base64.getEncoder.encodeToString(cred.getBytes("UTF-8"))
      val (none, _, _) = StatementClient.httpFull("POST",
        s"$base/v1/statement", Some("SELECT 1 AS x"), Map.empty)
      assert(none == 401)
      val (wrong, _, _) = StatementClient.httpFull("POST",
        s"$base/v1/statement", Some("SELECT 1 AS x"),
        Map("Authorization" -> basic("alice:nope")))
      assert(wrong == 401)
      val (garbled, _, _) = StatementClient.httpFull("POST",
        s"$base/v1/statement", Some("SELECT 1 AS x"),
        Map("Authorization" -> "Basic %%%not-base64%%%"))
      assert(garbled == 401)
      val (ok, body, _) = StatementClient.httpFull("POST",
        s"$base/v1/statement", Some("SELECT 1 AS x"),
        Map("Authorization" -> basic("alice:secret")))
      assert(ok == 200 && body.contains("\"id\""))
      // the info endpoint stays open (health checks), /v1/query does not
      val (info, _, _) = StatementClient.httpFull("GET",
        s"$base/v1/info", None, Map.empty)
      assert(info == 200)
      val (qinfo, _, _) = StatementClient.httpFull("GET",
        s"$base/v1/query/whatever", None, Map.empty)
      assert(qinfo == 401)
    } finally StatementServer.configurePasswordAuth(Map.empty)
  }

  test("query_max_execution_time kills a long query with EXCEEDED_TIME_LIMIT") {
    val r0 = StatementClient.post(base, sleepSql(30000),
      Map("X-Presto-Session" -> "query_max_execution_time=300ms"))
    var r = r0
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1
      Thread.sleep(20)
      r = StatementClient.advance(r.nextUri.get)
    }
    assert(r.state == "FAILED", s"expected FAILED, got ${r.state}")
    assert(r.error.exists(_.errorName == "EXCEEDED_TIME_LIMIT"), r.error.toString)
    assert(r.error.exists(_.errorCode == 0x00020003))
    assert(r.error.exists(_.errorType == "INSUFFICIENT_RESOURCES"))
    // a query without a limit is untouched by the tracker
    val ok = StatementClient.execute(spark, base, "SELECT 6 AS v").collect()
    assert(ok.map(_.getInt(0)).toSeq == Seq(6))
  }

  test("an invalid duration fails the query as INVALID_SESSION_PROPERTY") {
    val r0 = StatementClient.post(base, "SELECT 1 AS x",
      Map("X-Presto-Session" -> "query_max_execution_time=soon"))
    var r = r0
    var guard = 0
    while (r.nextUri.isDefined && guard < 10000) {
      guard += 1; r = StatementClient.advance(r.nextUri.get)
    }
    assert(r.state == "FAILED")
    assert(r.error.exists(_.errorName == "INVALID_SESSION_PROPERTY"), r.error.toString)
  }

  test("USE returns Set-Schema; X-Presto-Schema resolves unqualified names") {
    // a real catalog database (graft CTAS registers temp views, which
    // resolve regardless of the current schema — the header contract is
    // about CATALOG name resolution)
    spark.sql("CREATE DATABASE IF NOT EXISTS wiresch")
    spark.sql("CREATE TABLE IF NOT EXISTS wiresch.wtiny USING parquet " +
      "AS SELECT CAST(41 AS BIGINT) AS x")
    try {
      // USE earns the Set-Schema header without mutating the shared session
      val (r0, _) = (StatementClient.post(base, "USE wiresch"), ())
      var r = r0
      var hdrs = Map.empty[String, String]
      var guard = 0
      while (r.nextUri.isDefined && guard < 10000) {
        guard += 1
        val (rr, hh) = StatementClient.advanceFull(r.nextUri.get)
        r = rr; hdrs ++= hh
      }
      assert(r.state == "FINISHED", r.error.toString)
      assert(hdrs.get("X-Presto-Set-Schema").contains("wiresch"), hdrs.toString)
      // the shared session still resolves against the default db
      val unqualifiedMiss = StatementClient.post(base, "SELECT x FROM wtiny")
      var m = unqualifiedMiss
      guard = 0
      while (m.nextUri.isDefined && guard < 10000) {
        guard += 1; m = StatementClient.advance(m.nextUri.get)
      }
      assert(m.state == "FAILED", "unqualified name resolved without header")
      // carrying the header (as the client does after USE) resolves it
      val hit = pagesOf(StatementClient.post(base, "SELECT x FROM wtiny",
        Map("X-Presto-Schema" -> "wiresch")))
      assert(hit.map(_.getLong(0)).toSeq == Seq(41L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS wiresch.wtiny")
      spark.sql("DROP DATABASE IF EXISTS wiresch")
    }
  }

  test("USE s; returns Set-Schema and leaves the shared session in default") {
    spark.sql("CREATE DATABASE IF NOT EXISTS wire_semi")
    try {
      var r = StatementClient.post(base, "USE wire_semi;")
      var hdrs = Map.empty[String, String]
      var guard = 0
      while (r.nextUri.isDefined && guard < 10000) {
        guard += 1
        val (rr, hh) = StatementClient.advanceFull(r.nextUri.get)
        r = rr; hdrs ++= hh
      }
      assert(r.state == "FINISHED", r.error.toString)
      assert(hdrs.get("X-Presto-Set-Schema").contains("wire_semi"),
        hdrs.toString)
      val db = pagesOf(StatementClient.post(base,
        "SELECT current_database() AS db"))
      assert(db.map(_.getString(0)) == Vector("default"))
    } finally {
      spark.sql("USE default")
      spark.sql("DROP DATABASE IF EXISTS wire_semi")
    }
  }

  test("X-Presto-Time-Zone sets the session zone for the request only") {
    val tokyo = pagesOf(StatementClient.post(base,
      "SELECT current_timezone() AS tz",
      Map("X-Presto-Time-Zone" -> "Asia/Tokyo")))
    assert(tokyo.map(_.getString(0)) == Vector("Asia/Tokyo"))
    val dflt = pagesOf(StatementClient.post(base,
      "SELECT current_timezone() AS tz"))
    assert(dflt.map(_.getString(0)) == Vector("UTC"))
  }

  test("event listener: created + completed fire once with terminal states") {
    val events =
      new java.util.concurrent.ConcurrentLinkedQueue[StatementServer.QueryEvent]
    StatementServer.addEventListener(e => events.add(e))
    try {
      val okDf = StatementClient.execute(spark, base,
        "SELECT r_regionkey FROM region ORDER BY 1")
      assert(okDf.count() == 5)
      val bad = StatementClient.post(base, "SELECT definitely_no_such_col")
      var r = bad; var guard = 0
      while (r.nextUri.isDefined && guard < 10000) {
        guard += 1; r = StatementClient.advance(r.nextUri.get)
      }
      assert(r.error.isDefined)
      // allow the dispatcher to finish emitting
      val deadline = System.nanoTime() + 10000000000L
      def evs = {
        import scala.jdk.CollectionConverters._
        events.asScala.toVector
      }
      while (System.nanoTime() < deadline &&
        evs.count(_.isInstanceOf[StatementServer.QueryCompletedEvent]) < 2)
        Thread.sleep(20)
      val created = evs.collect { case e: StatementServer.QueryCreatedEvent => e }
      val completed = evs.collect { case e: StatementServer.QueryCompletedEvent => e }
      assert(created.size >= 2)
      // exactly one completion per query id, each with a terminal state
      assert(completed.map(_.queryId).distinct.size == completed.size)
      assert(completed.forall(e => e.state == "FINISHED" || e.state == "FAILED"))
      val failedEv = completed.filter(_.state == "FAILED")
      assert(failedEv.nonEmpty && failedEv.forall(_.errorName.isDefined))
      val finished = completed.filter(_.state == "FINISHED")
      assert(finished.nonEmpty && finished.forall(_.errorName.isEmpty))
      // created/completed pair up by id
      val cids = created.map(_.queryId).toSet
      assert(completed.forall(e => cids.contains(e.queryId)))
    } finally StatementServer.clearEventListeners()
  }

  test("presto type names round-trip through the wire schema") {
    import org.apache.spark.sql.types._
    val types: Seq[DataType] = Seq(LongType, IntegerType, ShortType,
      ByteType, BooleanType, DoubleType, FloatType, StringType, BinaryType,
      DateType, TimestampType, DecimalType(12, 4), ArrayType(LongType),
      MapType(StringType, DoubleType),
      StructType(Seq(StructField("a", LongType),
        StructField("b", ArrayType(StringType)))))
    types.foreach { t =>
      assert(StatementServer.sparkType(StatementServer.prestoType(t)) == t,
        s"round-trip failed for $t -> ${StatementServer.prestoType(t)}")
    }
  }
}
