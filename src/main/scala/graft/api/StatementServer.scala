package graft.api

import java.net.{HttpURLConnection, InetSocketAddress, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The reference's primary entry point: the `POST /v1/statement` HTTP
  * protocol (presto-main/src/main/java/com/facebook/presto/server/protocol/
  * QueuedStatementResource.java:210-304 — submit + queued polling —
  * and ExecutingStatementResource.java:99-151 — result paging + cancel).
  * Both the CLI and JDBC speak this protocol; a client sees:
  *
  *   POST /v1/statement  (body = SQL text)
  *     -> QueryResults{id, infoUri, nextUri=/v1/statement/queued/{id}/{t},
  *                     stats.state=QUEUED}
  *   GET nextUri ...     (poll while queued/running)
  *     -> QueryResults{nextUri=/v1/statement/executing/{id}/0} once ready
  *   GET /v1/statement/executing/{id}/{page}
  *     -> QueryResults{columns, data=[[v,...],...], nextUri=next page}
  *        final page: no nextUri, stats.state=FINISHED
  *   DELETE nextUri      -> 204, query canceled (USER_CANCELED)
  *
  * The QueryResults JSON shape follows presto-client's QueryResults.java:
  * 37-60 (`id`, `infoUri`, `nextUri`, `columns` [name/type/typeSignature],
  * `data` rows-as-arrays, `stats`, `error`) and QueryError.java:26-44
  * (`message`, `errorCode`, `errorName`, `errorType`); error codes from
  * presto-spi StandardErrorCode.java (SYNTAX_ERROR 1, USER_CANCELED 3,
  * GENERIC_INTERNAL_ERROR 65536).
  *
  * Spark-first mapping: the server is an embedded JDK HttpServer (the same
  * technique as functions/RemoteFunctions.scala's function service) in the
  * driver JVM, submitting SQL text to the graft dialect (`SqlSession.sql`).
  * Queries dispatch CONCURRENTLY on a bounded pool — each request on its
  * own session clone (isolated conf/temp views/prepares), the way the
  * reference's DispatchManager admits queries in parallel while the
  * coordinator rebuilds a Session per request — so one long query cannot
  * head-of-line block other clients; QUEUED is still a real observable
  * state once the slots fill. Statements that mutate SHARED state (DDL,
  * DML, roles, transactions) serialize on the shared session so their
  * catalog effects persist. Results STREAM: a toLocalIterator-backed page
  * window (at most PageWindow pages in driver heap, exactly the
  * reference's bounded output buffer, ExecutingStatementResource.java:
  * 99-151) — a SELECT * over a huge table never materializes at the
  * coordinator, and anything bigger than a client wants to page goes
  * through CTAS/INSERT (ops/Sources.scala, ops/SnapshotTable.scala) where
  * the write is fully distributed and never passes through the driver.
  */
object StatementServer {

  final case class ProtoError(message: String, errorCode: Int,
      errorName: String, errorType: String)

  /** One submitted query's lifecycle. States mirror the reference's
    * client-visible QueryState subset: QUEUED -> RUNNING ->
    * FINISHED | FAILED. */
  private final class QueryExec(val id: String, val sql: String,
      val sessionProps: Seq[(String, String)] = Seq.empty,
      val prepares: Seq[(String, String)] = Seq.empty,
      val user: String = "graft", val source: String = "",
      val defaultSchema: Option[String] = None,
      val timeZone: Option[String] = None) {
    @volatile var state: String = "QUEUED"
    @volatile var canceled: Boolean = false
    @volatile var schema: StructType = _
    // STREAMED result: a toLocalIterator plus a bounded page window —
    // the driver holds at most PageWindow pages, never the whole result
    // (the reference streams bounded pages from the output buffer,
    // ExecutingStatementResource.java:99-151). Window/counters are
    // guarded by `this`; the iterator pull itself runs under `pullLock`
    // ONLY — a pull can take as long as the query's tasks, and holding
    // the monitor across it would block cancel() (and every state read)
    // behind it, making a long query uncancelable.
    val pullLock = new Object
    var iter: Iterator[Row] = _
    var nextPageIdx: Int = 0
    var window: scala.collection.immutable.TreeMap[Int, Seq[Row]] =
      scala.collection.immutable.TreeMap.empty
    var exhausted: Boolean = false
    @volatile var maxWindowSeen: Int = 0
    @volatile var error: ProtoError = _
    @volatile var rowCount: Long = 0L
    /** Protocol response headers earned by the statement itself
      * (X-Presto-Set-Session / X-Presto-Added-Prepare / ...), attached to
      * every later response for this query — how the reference tells the
      * client to fold the effect into its next request. */
    @volatile var respHeaders: Map[String, String] = Map.empty
    val createdNanos: Long = System.nanoTime()
    val createdMillis: Long = System.currentTimeMillis()
    /** For eviction: a FINISHED query a slow client is still paging
      * through must not expire under it. */
    @volatile var lastAccessNanos: Long = System.nanoTime()
    /** queryCompleted fires exactly once, whichever terminal path wins. */
    val completedFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    /** Time limits (reference QueryTracker.enforceTimeLimits():
      * query_max_run_time counts from creation, query_max_execution_time
      * from execution start). -1 = unlimited. */
    @volatile var maxRunNanos: Long = -1L
    @volatile var maxExecNanos: Long = -1L
    @volatile var executionStartNanos: Long = -1L
  }

  private val queries = TrieMap.empty[String, QueryExec]
  private val seq = new AtomicLong(0)
  @volatile private var server: com.sun.net.httpserver.HttpServer = _
  @volatile private var boundPort: Int = -1
  @volatile private var session: SqlSession = _
  @volatile private var pageRows: Int = 1000
  /** Default concurrency of the catch-all `global` resource group (the
    * reference's dispatch manager admits queries concurrently under
    * resource-group limits, MAIN/dispatcher/DispatchManager.java:234).
    * Bounded by the GROUPS, so QUEUED is still a real observable state
    * once a group's slots fill; the executor itself is cached because
    * configured groups may allow more total slots than the default. */
  val DispatchThreads = 4
  private lazy val dispatcher = Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-statement-dispatch")
      t.setDaemon(true)
      t
    })
  // statements that mutate SHARED server state (catalog objects, managed
  // tables, roles, transactions) run serialized on the SHARED session so
  // their effects persist for later requests; everything else runs
  // concurrently on a per-query session clone
  private lazy val ddlLane = Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-statement-ddl")
      t.setDaemon(true)
      t
    })
  private val SharedStateStmt = java.util.regex.Pattern.compile(
    """\A(CREATE|DROP|ALTER|INSERT|DELETE|UPDATE|MERGE|TRUNCATE|ANALYZE|CALL|GRANT|REVOKE|SET\s+ROLE|START\s+TRANSACTION|BEGIN|COMMIT|ROLLBACK|REFRESH|USE|CACHE|UNCACHE)\b.*""",
    java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)
  private def mutatesSharedState(sql: String): Boolean =
    SharedStateStmt.matcher(sql).matches()

  // ---------- resource-group admission (reference InternalResourceGroup
  // .java:112-114 hardConcurrencyLimit / maxQueuedQueries; selectors per
  // resource-group-managers StaticSelector.java user/source regexes):
  // each query is admitted by the FIRST matching group — run if the group
  // has a free slot, queue if its queue has room, otherwise fail with
  // QUERY_QUEUE_FULL (StandardErrorCode 0x00020002, INSUFFICIENT_RESOURCES)

  /** One admission group. Regexes match the whole header value. */
  final case class ResourceGroup(name: String, hardConcurrencyLimit: Int,
      maxQueued: Int, userRegex: Option[String] = None,
      sourceRegex: Option[String] = None)

  private final class GroupState(val cfg: ResourceGroup) {
    var running = 0
    val queuedQ = new java.util.ArrayDeque[QueryExec]()
  }

  private def defaultGroups: Seq[GroupState] =
    Seq(new GroupState(ResourceGroup("global", DispatchThreads, 1000)))
  @volatile private var groups: Seq[GroupState] = defaultGroups

  /** Install admission groups (the catch-all `global` group is appended
    * automatically). Empty = reset to the default. */
  def configureResourceGroups(gs: Seq[ResourceGroup]): Unit = synchronized {
    groups = gs.map(new GroupState(_)) ++ defaultGroups
  }

  private def selectGroup(q: QueryExec): GroupState =
    groups.find { g =>
      g.cfg.userRegex.forall(r => q.user.matches(r)) &&
        g.cfg.sourceRegex.forall(r => q.source.matches(r))
    }.getOrElse(groups.last)

  // ---------- session property manager (reference presto-file-session-
  // property-manager FileSessionPropertyManager + SessionMatchSpec.java:
  // every spec whose user/source regexes match contributes its default
  // session properties, later specs overriding earlier; the client's own
  // X-Presto-Session pairs always win because they apply after)
  final case class SessionPropertyRule(userRegex: Option[String],
      sourceRegex: Option[String], props: Seq[(String, String)])
  @volatile private var propertyRules: Seq[SessionPropertyRule] = Seq.empty
  def configureSessionPropertyRules(rules: Seq[SessionPropertyRule]): Unit =
    propertyRules = rules
  private def defaultProps(user: String,
      source: String): Seq[(String, String)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    propertyRules.foreach { r =>
      if (r.userRegex.forall(user.matches) &&
          r.sourceRegex.forall(source.matches))
        r.props.foreach { case (k, v) => m(k) = v }
    }
    m.toSeq
  }

  // ---------- password authenticator (reference presto-password-
  // authenticators file/FileAuthenticator contract: credential file of
  // user -> password hash; the server's AuthenticationFilter answers 401
  // + WWW-Authenticate: Basic on a miss). Disabled when no credentials
  // are configured — tests/benches run open, as the reference does
  // without an authenticator plugin.
  @volatile private var passwordShaHex: Map[String, String] = Map.empty
  /** Enable HTTP Basic auth: user -> lowercase hex sha-256 of password. */
  def configurePasswordAuth(credsSha: Map[String, String]): Unit =
    passwordShaHex = credsSha
  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
  /** True = request may proceed; false = a 401 was already sent. */
  private def authenticate(
      ex: com.sun.net.httpserver.HttpExchange): Boolean = {
    if (passwordShaHex.isEmpty) return true
    val ok = try {
      Option(ex.getRequestHeaders.getFirst("Authorization")).exists { h =>
        h.startsWith("Basic ") && {
          val dec = new String(
            java.util.Base64.getDecoder.decode(h.drop(6).trim), UTF_8)
          val i = dec.indexOf(':')
          i > 0 && passwordShaHex.get(dec.take(i))
            .contains(sha256Hex(dec.drop(i + 1)))
        }
      }
    } catch { case _: IllegalArgumentException => false }
    if (!ok)
      respond(ex, 401, """{"message":"authentication failed"}""",
        Map("WWW-Authenticate" -> "Basic realm=\"graft\""))
    ok
  }

  // ---------- event listeners (reference presto-spi eventlistener/
  // EventListener.java queryCreated/queryCompleted; QueryCompletedEvent
  // .java carries identity, terminal state, error code, row count and
  // timing — the hook presto-openlineage-event-listener and audit-log
  // plugins build on). Completed fires once per query at its terminal
  // transition; rowCount is rows served to the client by then (the
  // streaming server's analogue of the reference's output-row stat).
  sealed trait QueryEvent { def queryId: String }
  final case class QueryCreatedEvent(queryId: String, user: String,
      source: String, sql: String, createMillis: Long) extends QueryEvent
  final case class QueryCompletedEvent(queryId: String, user: String,
      source: String, sql: String, state: String, errorName: Option[String],
      rowCount: Long, wallMillis: Long) extends QueryEvent
  private val eventListeners =
    new java.util.concurrent.CopyOnWriteArrayList[QueryEvent => Unit]
  def addEventListener(l: QueryEvent => Unit): Unit = eventListeners.add(l)
  def clearEventListeners(): Unit = eventListeners.clear()
  private def emit(e: QueryEvent): Unit = {
    val it = eventListeners.iterator()
    while (it.hasNext) {
      val l = it.next()
      try l(e) catch { case _: Throwable => () } // a listener never fails a query
    }
  }
  private def emitCompleted(q: QueryExec): Unit =
    if (q.completedFired.compareAndSet(false, true))
      emit(QueryCompletedEvent(q.id, q.user, q.source, q.sql, q.state,
        Option(q.error).map(_.errorName), q.rowCount,
        (System.nanoTime() - q.createdNanos) / 1000000L))

  // ---------- time-limit enforcement (reference QueryTracker.java:217
  // enforceTimeLimits(), a periodic task over the live-query registry;
  // SystemSessionProperties.java:133 QUERY_MAX_EXECUTION_TIME /
  // QUERY_MAX_RUN_TIME; StandardErrorCode.java:135 EXCEEDED_TIME_LIMIT)
  private val DurationRe =
    """(?i)\A\s*([0-9]+(?:\.[0-9]+)?)\s*(ns|us|ms|s|m|h|d)\s*\z""".r
  private[graft] def parseDurationNanos(s: String): Long = s match {
    case DurationRe(v, u) =>
      val mult = u.toLowerCase match {
        case "ns" => 1L
        case "us" => 1000L
        case "ms" => 1000000L
        case "s" => 1000000000L
        case "m" => 60000000000L
        case "h" => 3600000000000L
        case "d" => 86400000000000L
      }
      (v.toDouble * mult).toLong
    case _ => throw new IllegalArgumentException(s"invalid duration: $s")
  }
  private def enforceTimeLimits(): Unit = {
    val now = System.nanoTime()
    queries.values.foreach { q =>
      if (q.state == "QUEUED" || q.state == "RUNNING") {
        val execBreach = q.maxExecNanos > 0 && q.executionStartNanos > 0 &&
          now - q.executionStartNanos > q.maxExecNanos
        val runBreach = q.maxRunNanos > 0 && now - q.createdNanos > q.maxRunNanos
        if (execBreach || runBreach) {
          q.canceled = true
          fail(q, ProtoError(
            if (execBreach) "Query exceeded the maximum execution time limit"
            else "Query exceeded maximum time limit",
            0x00020003, "EXCEEDED_TIME_LIMIT", "INSUFFICIENT_RESOURCES"))
          val ses = session
          if (ses != null) ses.spark.sparkContext.cancelJobGroup(q.id)
        }
      }
    }
  }
  private lazy val enforcer = {
    val e = Executors.newSingleThreadScheduledExecutor((r: Runnable) => {
      val t = new Thread(r, "graft-query-tracker")
      t.setDaemon(true)
      t
    })
    e.scheduleAtFixedRate(() =>
      try enforceTimeLimits() catch { case _: Throwable => () },
      50, 50, java.util.concurrent.TimeUnit.MILLISECONDS)
    e
  }

  private def lane(q: QueryExec) =
    if (mutatesSharedState(q.sql)) ddlLane else dispatcher

  private def execute(g: GroupState, q: QueryExec): Unit =
    lane(q).execute(() => try run(q) finally release(g))

  /** Free the slot; the next queued query (if any) inherits it. */
  private def release(g: GroupState): Unit = {
    val next = g.synchronized {
      val n = g.queuedQ.pollFirst()
      if (n == null) g.running -= 1
      n
    }
    if (next != null) execute(g, next)
  }

  private def dispatch(q: QueryExec): Unit = {
    val g = selectGroup(q)
    val admit = g.synchronized {
      if (g.running < g.cfg.hardConcurrencyLimit) { g.running += 1; 1 }
      else if (g.queuedQ.size < g.cfg.maxQueued) { g.queuedQ.addLast(q); 0 }
      else -1
    }
    admit match {
      case 1 => execute(g, q)
      case 0 => () // runs when a slot releases; cancel-while-queued works
      case _ => fail(q, ProtoError(
        s"""Too many queued queries for "${g.cfg.name}"""", 0x00020002,
        "QUERY_QUEUE_FULL", "INSUFFICIENT_RESOURCES"))
    }
  }

  def port: Int = boundPort

  /** Start (idempotent); returns base URI. `pageSize` caps rows per
    * QueryResults page (the reference targets a byte budget per page;
    * a row cap is the same knob). */
  def ensureStarted(spark: SparkSession, pageSize: Int = 1000): String =
    synchronized {
      // wrapped once here; each read's clone inherits what wrap set
      session = SqlSession.wrap(spark)
      pageRows = pageSize
      if (server != null) return s"http://127.0.0.1:$boundPort"
      val s = com.sun.net.httpserver.HttpServer.create(
        new InetSocketAddress("127.0.0.1", 0), 0)
      s.createContext("/v1/statement", handler)
      s.createContext("/v1/info", infoHandler)
      s.createContext("/v1/query", queryInfoHandler)
      s.setExecutor(Executors.newFixedThreadPool(4, (r: Runnable) => {
        val t = new Thread(r, "graft-statement-server")
        t.setDaemon(true)
        t
      }))
      val starter = new Thread(() => s.start(), "graft-statement-start")
      starter.setDaemon(true)
      starter.start()
      starter.join()
      server = s
      boundPort = s.getAddress.getPort
      enforcer // start the periodic time-limit tracker with the server
      s"http://127.0.0.1:$boundPort"
    }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null; boundPort = -1 }
    queries.clear()
    passwordShaHex = Map.empty
    propertyRules = Seq.empty
    eventListeners.clear()
  }

  // ---------- Presto type names (client Column.type / typeSignature)

  def prestoType(dt: DataType): String = dt match {
    // leaves delegate to the ONE shared mapping (DdlStatements
    // .prestoTypeName, what DESCRIBE reports) so the wire and the catalog
    // never disagree; containers recurse here to keep the protocol-only
    // spellings (timestamp_ntz -> timestamp, null -> unknown) inside too
    case TimestampNTZType => "timestamp"
    case NullType => "unknown"
    case ArrayType(e, _) => s"array(${prestoType(e)})"
    case MapType(k, v, _) => s"map(${prestoType(k)}, ${prestoType(v)})"
    case st: StructType
        if !graft.functions.TimeTzFunctions.isTimeTz(st) =>
      st.fields.map(f => s"${f.name} ${prestoType(f.dataType)}")
        .mkString("row(", ", ", ")")
    case other => DdlStatements.prestoTypeName(other)
  }

  /** Inverse of prestoType — the client rebuilds a Spark schema from the
    * wire type names. */
  def sparkType(t: String): DataType = {
    val s = t.trim
    val lower = s.toLowerCase
    lower match {
      case "bigint" => LongType
      case "integer" | "int" => IntegerType
      case "smallint" => ShortType
      case "tinyint" => ByteType
      case "boolean" => BooleanType
      case "double" => DoubleType
      case "real" => FloatType
      case "varbinary" => BinaryType
      case "date" => DateType
      case "timestamp" => TimestampType
      case "time with time zone" => StructType(Seq(
        StructField(graft.functions.TimeTzFunctions.UtcField, LongType),
        StructField(graft.functions.TimeTzFunctions.OffField, IntegerType)))
      case "unknown" => NullType
      case _ if lower == "varchar" || lower.startsWith("varchar(") =>
        StringType
      case _ if lower.startsWith("decimal(") =>
        val Array(p, sc) =
          s.substring(8, s.length - 1).split(',').map(_.trim.toInt)
        DecimalType(p, sc)
      case _ if lower.startsWith("array(") =>
        ArrayType(sparkType(s.substring(6, s.length - 1)))
      case _ if lower.startsWith("map(") =>
        val Seq(k, v) = typeArgs(s.substring(4, s.length - 1))
        MapType(sparkType(k), sparkType(v))
      case _ if lower.startsWith("row(") =>
        StructType(typeArgs(s.substring(4, s.length - 1)).map { f =>
          val sp = f.indexOf(' ')
          StructField(f.substring(0, sp), sparkType(f.substring(sp + 1)))
        })
      case other => throw new IllegalArgumentException(s"type: $other")
    }
  }

  /** A wire type's parameters, cut at its top-level commas. Field names
    * are unquoted on the wire, so the type text itself is scanned (a name
    * holding an apostrophe must not open a literal). */
  private def typeArgs(s: String): Seq[String] =
    Text.topLevelArgs(s, 0, s.length).map { case (a, b) =>
      s.substring(a, b).trim
    }

  // ---------- value serde (schema-driven; rows-as-arrays like the
  // reference's JSON data pages)

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  def renderValue(v: Any, dt: DataType): String =
    if (v == null) "null"
    else dt match {
      case LongType | IntegerType | ShortType | ByteType | BooleanType =>
        v.toString
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN) "\"NaN\""
        else if (d.isPosInfinity) "\"Infinity\""
        else if (d.isNegInfinity) "\"-Infinity\""
        else d.toString
      case FloatType =>
        renderValue(v.asInstanceOf[Float].toDouble, DoubleType)
      case StringType => "\"" + esc(v.toString) + "\""
      case BinaryType =>
        "\"" + java.util.Base64.getEncoder
          .encodeToString(v.asInstanceOf[Array[Byte]]) + "\""
      case _: DecimalType =>
        "\"" + (v match {
          case d: java.math.BigDecimal => d.toPlainString
          case d: BigDecimal => d.bigDecimal.toPlainString
          case other => other.toString
        }) + "\""
      case DateType | _: TimestampType | TimestampNTZType =>
        "\"" + v.toString + "\""
      case ArrayType(e, _) =>
        v.asInstanceOf[scala.collection.Seq[Any]]
          .map(renderValue(_, e)).mkString("[", ",", "]")
      case MapType(k, vt, _) =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq
          .map { case (mk, mv) =>
            "\"" + esc(mk.toString) + "\":" + renderValue(mv, vt)
          }.mkString("{", ",", "}")
      case StructType(fs) =>
        val r = v.asInstanceOf[Row]
        fs.zipWithIndex
          .map { case (f, i) => renderValue(r.get(i), f.dataType) }
          .mkString("[", ",", "]")
      case _ => "\"" + esc(v.toString) + "\""
    }

  def parseValue(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case LongType => n.asLong
      case IntegerType => n.asInt
      case ShortType => n.asInt.toShort
      case ByteType => n.asInt.toByte
      case BooleanType => n.asBoolean
      case DoubleType =>
        if (n.isTextual) n.asText match {
          case "NaN" => Double.NaN
          case "Infinity" => Double.PositiveInfinity
          case "-Infinity" => Double.NegativeInfinity
          case other => other.toDouble
        } else n.asDouble
      case FloatType =>
        parseValue(n, DoubleType).asInstanceOf[Double].toFloat
      case StringType => n.asText
      case BinaryType => java.util.Base64.getDecoder.decode(n.asText)
      case _: DecimalType => new java.math.BigDecimal(n.asText)
      case DateType => java.sql.Date.valueOf(n.asText)
      case _: TimestampType | TimestampNTZType =>
        val t = n.asText
        if (t.contains('T'))
          java.sql.Timestamp.valueOf(java.time.LocalDateTime.parse(t))
        else java.sql.Timestamp.valueOf(t)
      case ArrayType(e, _) =>
        (0 until n.size()).map(i => parseValue(n.get(i), e))
      case MapType(k, vt, _) =>
        val it = n.fields()
        val b = scala.collection.mutable.LinkedHashMap.empty[Any, Any]
        while (it.hasNext) {
          val e = it.next()
          b.put(keyFromString(e.getKey, k), parseValue(e.getValue, vt))
        }
        b.toMap
      case StructType(fs) =>
        Row.fromSeq(fs.zipWithIndex.map { case (f, i) =>
          parseValue(n.get(i), f.dataType)
        })
      case _ => n.asText
    }

  private def keyFromString(s: String, dt: DataType): Any = dt match {
    case StringType => s
    case LongType => s.toLong
    case IntegerType => s.toInt
    case ShortType => s.toShort
    case DoubleType => s.toDouble
    case BooleanType => s.toBoolean
    case _ => s
  }

  // ---------- QueryResults rendering

  private def columnsJson(schema: StructType): String =
    schema.fields.map { f =>
      val t = prestoType(f.dataType)
      val raw = t.takeWhile(c => c != '(' && c != ' ')
      s"""{"name":"${esc(f.name)}","type":"$t","typeSignature":{"rawType":"$raw","typeArguments":[],"literalArguments":[],"arguments":[]}}"""
    }.mkString("[", ",", "]")

  private def statsJson(q: QueryExec): String = {
    val elapsed = (System.nanoTime() - q.createdNanos) / 1000000L
    val done = q.state == "FINISHED" || q.state == "FAILED"
    s"""{"state":"${q.state}","waitingForPrerequisites":false,"queued":${q.state == "QUEUED"},"scheduled":${q.state != "QUEUED"},"nodes":1,"totalSplits":1,"queuedSplits":0,"runningSplits":${if (done) 0 else 1},"completedSplits":${if (done) 1 else 0},"cpuTimeMillis":0,"wallTimeMillis":$elapsed,"waitingForPrerequisitesTimeMillis":0,"queuedTimeMillis":0,"elapsedTimeMillis":$elapsed,"processedRows":${q.rowCount},"processedBytes":0,"peakMemoryBytes":0,"peakTotalMemoryBytes":0,"peakTaskTotalMemoryBytes":0,"spilledBytes":0}"""
  }

  private def errorJson(e: ProtoError): String =
    s"""{"message":"${esc(e.message)}","errorCode":${e.errorCode},"errorName":"${e.errorName}","errorType":"${e.errorType}","retriable":false}"""

  private def results(q: QueryExec, base: String, nextUri: Option[String],
      columns: Option[StructType], data: Option[Seq[Row]],
      binary: Boolean = false): String = {
    val sb = new StringBuilder(256)
    sb.append(s"""{"id":"${q.id}","infoUri":"$base/v1/query/${q.id}"""")
    nextUri.foreach(u => sb.append(s""","nextUri":"$u""""))
    columns.foreach(c => sb.append(s""","columns":${columnsJson(c)}"""))
    if (binary)
      // ?binaryResults=true (reference ExecutingStatementResource.java:108,
      // Query.java:526): pages travel as base64 SerializedPages instead
      // of JSON rows; bodies over the codec threshold ship LZ4-compressed
      // (exchange.compression-enabled + PagesSerde.wrapSlice ratio policy)
      for (rows <- data; cols <- columns)
        sb.append(""","binaryData":["""")
          .append(java.util.Base64.getEncoder.encodeToString(
            PageCodec.serialize(cols, rows, compress = true)))
          .append(""""]""")
    else
      for (rows <- data; cols <- columns)
        sb.append(""","data":""").append(rows.map { r =>
          cols.fields.indices
            .map(i => renderValue(r.get(i), cols.fields(i).dataType))
            .mkString("[", ",", "]")
        }.mkString("[", ",", "]"))
    sb.append(s""","stats":${statsJson(q)}""")
    if (q.error != null) sb.append(s""","error":${errorJson(q.error)}""")
    sb.append("}")
    sb.toString
  }

  // ---------- lifecycle

  private def submit(sql: String, sessionProps: Seq[(String, String)],
      prepares: Seq[(String, String)], user: String = "graft",
      source: String = "", defaultSchema: Option[String] = None,
      timeZone: Option[String] = None): QueryExec = {
    // reference id shape: yyyyMMdd_HHmmss_NNNNN_xxxxx (QueryIdGenerator)
    val stamp = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
      .format(new java.util.Date())
    // normalized once: lane choice, statementHeaders and run read one text
    val q = new QueryExec(f"${stamp}_${seq.getAndIncrement()}%05d_graft",
      Text.statement(sql), sessionProps, prepares, user, source,
      defaultSchema, timeZone)
    evict()
    queries.put(q.id, q)
    // Created fires as soon as the query is registered — BEFORE the
    // time-limit parse, whose failure path emits Completed; listeners
    // must never observe Completed without a preceding Created
    emit(QueryCreatedEvent(q.id, q.user, q.source, q.sql, q.createdMillis))
    // time limits come from the effective session context (rule defaults
    // overridden by explicit client pairs), parsed once at submit
    val eff = defaultProps(user, source).toMap ++ sessionProps.toMap
    try {
      eff.get("query_max_run_time")
        .foreach(v => q.maxRunNanos = parseDurationNanos(v))
      eff.get("query_max_execution_time")
        .foreach(v => q.maxExecNanos = parseDurationNanos(v))
    } catch {
      case e: IllegalArgumentException =>
        fail(q, ProtoError(String.valueOf(e.getMessage), 0x0000000E,
          "INVALID_SESSION_PROPERTY", "USER_ERROR"))
    }
    q
  }

  /** Parse an X-Presto-Session / X-Presto-Prepared-Statement header list:
    * each value is `key=value` with the value URL-encoded (the client
    * encodes; StatementClientV1 decodes the response counterparts the
    * same way). Multiple pairs arrive as repeated headers or
    * comma-separated. */
  private def headerPairs(ex: com.sun.net.httpserver.HttpExchange,
      name: String): Seq[(String, String)] = {
    val vs = ex.getRequestHeaders.get(name)
    if (vs == null) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      vs.asScala.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        .map { pair =>
          val i = pair.indexOf('=')
          require(i > 0, s"malformed $name header: $pair")
          (pair.substring(0, i).trim,
            java.net.URLDecoder.decode(pair.substring(i + 1).trim, "UTF-8"))
        }
    }
  }

  // USE catalog.schema | USE schema (UseTask.java: the coordinator
  // answers Set-Catalog/Set-Schema headers, the CLIENT carries them)
  private val Use = """(?is)\AUSE\s+(?:(\w+)\.)?(\w+)\z""".r

  /** Response-header side effects of the statement itself: USE here, the
    * session statements in SessionStatements.responseHeaders. */
  private def statementHeaders(sql: String): Map[String, String] =
    sql match {
      case Use(cat, sch) =>
        Option(cat).map("X-Presto-Set-Catalog" -> _).toMap +
          ("X-Presto-Set-Schema" -> sch)
      case t => SessionStatements.responseHeaders(t)
    }

  private def run(q: QueryExec): Unit = {
    // atomic QUEUED -> RUNNING: a DELETE that already failed the query
    // must not be overwritten (terminal states are set-once)
    val started = q.synchronized {
      if (q.state == "QUEUED" && !q.canceled) { q.state = "RUNNING"; true }
      else false
    }
    if (!started) return
    q.executionStartNanos = System.nanoTime()
    val shared = mutatesSharedState(q.sql)
    // queries run on a per-request session CLONE: isolated conf / temp
    // views / prepares, so concurrent requests cannot observe each
    // other's SET SESSION — the reference rebuilds a Session per request
    // from the same headers. The clone inherits the shared session's
    // catalog state (views, functions, types, access control) and starts
    // without its request state (SessionScope.fork). Shared-state DDL runs
    // on the SHARED session (serialized on its own lane) so catalog
    // effects persist.
    val ses = if (shared) session else session.fork()
    val qSession = ses.spark // clones share the SparkContext
    // on the shared session, header context must unwind after the
    // statement; a clone's request state is released with the clone
    val applied = scala.collection.mutable.ListBuffer.empty[String]
    val appliedConf =
      scala.collection.mutable.ListBuffer.empty[(String, String)]
    try {
      qSession.sparkContext.setJobGroup(q.id, q.sql, interruptOnCancel = true)
      // X-Presto-Schema / X-Presto-Time-Zone session context (the
      // reference rebuilds the Session from these headers per request;
      // USE only RETURNS Set-Schema headers — the client carries the
      // context, the coordinator stays stateless, so the shared lane
      // unwinds both)
      q.defaultSchema.foreach { sch =>
        val prev = qSession.catalog.currentDatabase
        ses.sql(s"USE `$sch`")
        if (shared) applied += s"USE `$prev`"
      }
      q.timeZone.foreach { tz =>
        val prev = qSession.conf.get("spark.sql.session.timeZone")
        qSession.conf.set("spark.sql.session.timeZone", tz)
        if (shared) appliedConf += (("spark.sql.session.timeZone", prev))
      }
      // rule-matched session property defaults apply first (explicit
      // client pairs below override; ones the client also sets are
      // skipped so the shared-lane unwind stays single-RESET per key)
      val explicitKeys = q.sessionProps.map(_._1).toSet
      val withDefaults = defaultProps(q.user, q.source)
        .filterNot(p => explicitKeys(p._1)) ++ q.sessionProps
      withDefaults.foreach { case (k, v) =>
        // values arrive URL-decoded and may hold quotes: double them so
        // the re-embedded literal stays one literal
        ses.sql(s"SET SESSION $k = '${v.replace("'", "''")}'")
        if (shared) applied += s"RESET SESSION $k"
      }
      q.prepares.foreach { case (name, body) =>
        ses.sql(s"PREPARE $name FROM $body")
        if (shared) applied += s"DEALLOCATE PREPARE $name"
      }
      val prevDb = qSession.catalog.currentDatabase
      val df = ses.sql(q.sql)
      q.schema = df.schema
      q.respHeaders = statementHeaders(q.sql)
      // a USE statement must not mutate the shared session: the client
      // carries the new default via the Set-Schema header instead
      if (shared && q.respHeaders.contains("X-Presto-Set-Schema"))
        applied += s"USE `$prevDb`"
      // the statement's own session effects do NOT persist server-side:
      // the response header tells the CLIENT to carry them on its next
      // request (the reference coordinator is stateless the same way)
      if (shared) {
        q.respHeaders.get("X-Presto-Set-Session").foreach { kv =>
          applied += s"RESET SESSION ${kv.takeWhile(_ != '=')}"
        }
        q.respHeaders.get("X-Presto-Added-Prepare").foreach { kv =>
          applied += s"DEALLOCATE PREPARE ${kv.takeWhile(_ != '=')}"
        }
      }
      // DDL and session statements produce tiny result frames: collect
      // them eagerly so the shared-lane unwind below can run before the
      // client pages. Queries stream: toLocalIterator materializes ONE
      // partition at a time — a SELECT * over a huge table never sits
      // whole in driver heap.
      val it =
        if (shared) df.collect().iterator
        else {
          import scala.jdk.CollectionConverters._
          df.toLocalIterator().asScala
        }
      q.synchronized { q.iter = it }
      // prefetch the FIRST page here, in the dispatch slot: toLocalIterator
      // is lazy, and without this the query would report FINISHED before a
      // single task ran (and a slow query would never occupy its slot)
      servePage(q, 0)
      q.synchronized {
        if (q.state == "RUNNING") q.state = "FINISHED"
      }
      emitCompleted(q)
    } catch {
      case _: Throwable if q.canceled => () // interrupt from cancelJobGroup
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        fail(q, ProtoError(String.valueOf(e.getMessage), 1, "SYNTAX_ERROR",
          "USER_ERROR"))
      case e: org.apache.spark.sql.AnalysisException =>
        fail(q, ProtoError(String.valueOf(e.getMessage), 1, "SYNTAX_ERROR",
          "USER_ERROR"))
      case e: Throwable =>
        fail(q, ProtoError(String.valueOf(e.getMessage), 65536,
          "GENERIC_INTERNAL_ERROR", "INTERNAL_ERROR"))
    } finally {
      applied.reverseIterator.foreach(stmt =>
        try ses.sql(stmt) catch { case _: Throwable => () })
      appliedConf.reverseIterator.foreach { case (k, v) =>
        try qSession.conf.set(k, v) catch { case _: Throwable => () } }
      qSession.sparkContext.clearJobGroup()
    }
  }

  /** Set-once terminal failure — except that an error during RESULT
    * iteration may still flip FINISHED (results ready) to FAILED. */
  private def fail(q: QueryExec, e: ProtoError): Unit = {
    q.synchronized {
      if (q.state != "FAILED") { q.error = e; q.state = "FAILED" }
    }
    emitCompleted(q)
  }

  /** How many pages a query holds buffered at most (spec evidence that
    * results stream instead of materializing). */
  private[graft] def bufferedPagesHighWater(id: String): Int =
    queries.get(id).map(_.maxWindowSeen).getOrElse(0)

  /** Pull/serve page `page`. Left(httpCode) for expired/out-of-order
    * tokens; Right((rows, hasNext)) otherwise. Pages are produced on
    * demand from the iterator and only a window of PageWindow pages is
    * retained — a re-GET of the previous page (client retry) still
    * works, anything older is gone (410), as in the reference. */
  private val PageWindow = 3
  private def servePage(q: QueryExec, page: Int)
      : Either[Int, (Seq[Row], Boolean)] = q.pullLock.synchronized {
    // fast path + eligibility under the monitor (short); the pull itself
    // runs with only pullLock held so cancel()/state reads never queue
    // behind a long-running task
    q.synchronized {
      if (q.window.contains(page))
        return Right((q.window(page), page + 1 < q.nextPageIdx || !q.exhausted))
      if (page != q.nextPageIdx || q.exhausted) return Left(410)
    }
    val buf = Vector.newBuilder[Row]
    var n = 0
    while (n < pageRows && q.iter.hasNext) { buf += q.iter.next(); n += 1 }
    val done = !q.iter.hasNext
    val rows = buf.result()
    q.synchronized {
      q.exhausted = done
      q.rowCount += rows.size
      q.window = q.window + (page -> rows)
      while (q.window.size > PageWindow) q.window = q.window.tail
      q.maxWindowSeen = math.max(q.maxWindowSeen, q.window.size)
      q.nextPageIdx += 1
      Right((rows, !q.exhausted))
    }
  }

  /** Bound the registry: a long-lived server must not accumulate every
    * finished query's pages forever (the reference expires query history
    * the same way). Oldest TERMINAL queries evict beyond the cap; live
    * ones are never touched. */
  private val MaxRetained = 256
  private def evict(): Unit =
    if (queries.size > MaxRetained) {
      queries.values.toSeq
        .filter(q => q.state == "FINISHED" || q.state == "FAILED")
        .sortBy(_.lastAccessNanos)
        .dropRight(MaxRetained / 2)
        .foreach(q => queries.remove(q.id))
    }

  /** Returns whether the cancel acted (false = already terminal). */
  private def cancel(q: QueryExec): Boolean = {
    // the whole transition is atomic wrt run()'s RUNNING -> FINISHED so a
    // cancel can never leave state=FINISHED with a USER_CANCELED payload
    val act = q.synchronized {
      // DELETE after completion is a no-op, as in the reference
      if (q.state == "FINISHED" || q.state == "FAILED") false
      else {
        q.canceled = true
        q.error = ProtoError("Query was canceled by user", 3,
          "USER_CANCELED", "USER_ERROR")
        q.state = "FAILED"
        true
      }
    }
    if (act) {
      val ses = session
      if (ses != null) ses.spark.sparkContext.cancelJobGroup(q.id)
      emitCompleted(q)
    }
    act
  }

  // ---------- system.runtime (reference MAIN/connector/system/
  // QuerySystemTable.java:56 column set and NodesSystemTable.java) — the
  // registry snapshot behind `SELECT * FROM system.runtime.queries`, plus
  // the kill_query procedure (KillQueryProcedure.java:62)

  /** One row per registry entry, newest-submitted last. */
  def runtimeQueries(spark: SparkSession): DataFrame = {
    val rows = queries.values.toSeq.sortBy(_.createdNanos).map { q =>
      Row(q.id, q.state, q.user, q.source, q.sql,
        new java.sql.Timestamp(q.createdMillis),
        (System.nanoTime() - q.createdNanos) / 1000000L,
        q.rowCount,
        if (q.error != null) q.error.errorName else null)
    }
    val schema = StructType(Seq(
      StructField("query_id", StringType), StructField("state", StringType),
      StructField("user", StringType), StructField("source", StringType),
      StructField("query", StringType),
      StructField("created", TimestampType),
      StructField("elapsed_ms", LongType),
      StructField("processed_rows", LongType),
      StructField("error_name", StringType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The single coordinator row (local mode IS the cluster here; on a
    * real deployment one row per executor joins it). */
  def runtimeNodes(spark: SparkSession): DataFrame = {
    val uri = if (boundPort > 0) s"http://127.0.0.1:$boundPort" else "local"
    val rows = Seq(Row("graft-coordinator", uri, "graft-spark", true, "active"))
    val schema = StructType(Seq(
      StructField("node_id", StringType), StructField("http_uri", StringType),
      StructField("node_version", StringType),
      StructField("coordinator", BooleanType),
      StructField("state", StringType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** CALL system.runtime.kill_query: cancel by id; false when unknown or
    * already terminal (the reference raises NOT_FOUND / already-done).
    * Atomic: the terminal check happens inside cancel()'s transition, so
    * a query finishing concurrently reports false, never a phantom kill. */
  def killQuery(id: String): Boolean = queries.get(id).exists(cancel)

  // ---------- HTTP

  private def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int,
      body: String, headers: Map[String, String] = Map.empty): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    if (code == 204) ex.sendResponseHeaders(204, -1L)
    else {
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    ex.close()
  }

  private def handler: com.sun.net.httpserver.HttpHandler =
    (ex: com.sun.net.httpserver.HttpExchange) => try {
      if (authenticate(ex)) {
      val base = s"http://127.0.0.1:$boundPort"
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/statement")
        .split('/').filter(_.nonEmpty).toList
      (ex.getRequestMethod, path) match {
        case ("POST", Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
          if (body.isEmpty)
            respond(ex, 400, """{"message":"SQL statement is empty"}""")
          else {
            val q = submit(body,
              headerPairs(ex, "X-Presto-Session"),
              headerPairs(ex, "X-Presto-Prepared-Statement"),
              Option(ex.getRequestHeaders.getFirst("X-Presto-User"))
                .getOrElse("graft"),
              Option(ex.getRequestHeaders.getFirst("X-Presto-Source"))
                .getOrElse(""),
              Option(ex.getRequestHeaders.getFirst("X-Presto-Schema")),
              Option(ex.getRequestHeaders.getFirst("X-Presto-Time-Zone")))
            // render BEFORE dispatching so the submit response always
            // reports the observable QUEUED state (the reference's
            // createQueuedQueryResults does the same)
            val resp = results(q, base,
              Some(s"$base/v1/statement/queued/${q.id}/1"), None, None)
            dispatch(q)
            respond(ex, 200, resp)
          }

        case ("GET", "queued" :: "retry" :: id :: _) =>
          // QueuedStatementResource.java:349-353: re-submit the SAME
          // statement (and its session context) as a NEW query
          queries.get(id) match {
            case None => respond(ex, 404, """{"message":"unknown query"}""")
            case Some(orig) =>
              val q = submit(orig.sql, orig.sessionProps, orig.prepares,
                orig.user, orig.source, orig.defaultSchema, orig.timeZone)
              val resp = results(q, base,
                Some(s"$base/v1/statement/queued/${q.id}/1"), None, None)
              dispatch(q)
              respond(ex, 200, resp)
          }

        case ("GET", "queued" :: id :: _ :: Nil) =>
          queries.get(id).foreach(_.lastAccessNanos = System.nanoTime())
          queries.get(id) match {
            case None => respond(ex, 404, """{"message":"unknown query"}""")
            case Some(q) => q.state match {
              case "FAILED" =>
                respond(ex, 200, results(q, base, None, None, None),
                  q.respHeaders)
              case "FINISHED" =>
                respond(ex, 200, results(q, base,
                  Some(s"$base/v1/statement/executing/$id/0"), None, None),
                  q.respHeaders)
              case _ => // QUEUED or RUNNING: keep polling
                respond(ex, 200, results(q, base,
                  Some(s"$base/v1/statement/queued/$id/1"), None, None))
            }
          }

        case ("GET", "executing" :: id :: tok :: Nil) =>
          queries.get(id).foreach(_.lastAccessNanos = System.nanoTime())
          queries.get(id) match {
            case None => respond(ex, 404, """{"message":"unknown query"}""")
            case Some(q) if q.state == "FAILED" =>
              respond(ex, 200, results(q, base, None, None, None))
            case Some(q) if q.state != "FINISHED" =>
              respond(ex, 200, results(q, base,
                Some(s"$base/v1/statement/queued/$id/1"), None, None))
            case Some(q) =>
              val page = tok.toInt
              // the pull may run Spark jobs (one partition at a time):
              // keep them under the query's job group so DELETE's
              // cancelJobGroup reaches them too
              val pulled =
                try {
                  val sc = session.spark.sparkContext
                  sc.setJobGroup(q.id, q.sql, interruptOnCancel = true)
                  try servePage(q, page)
                  finally sc.clearJobGroup()
                } catch {
                  case e: Throwable if !q.canceled =>
                    fail(q, ProtoError(String.valueOf(e.getMessage), 65536,
                      "GENERIC_INTERNAL_ERROR", "INTERNAL_ERROR"))
                    null
                  case _: Throwable => null
                }
              if (pulled == null)
                respond(ex, 200, results(q, base, None, None, None))
              else pulled match {
                case Left(code) =>
                  respond(ex, code, """{"message":"result page expired"}""")
                case Right((rows, hasNext)) =>
                  // the binaryResults query param propagates along nextUri,
                  // as the reference's createNextResultsUri does
                  val binary = Option(ex.getRequestURI.getQuery)
                    .exists(_.contains("binaryResults=true"))
                  val qp = if (binary) "?binaryResults=true" else ""
                  val next = if (hasNext)
                    Some(s"$base/v1/statement/executing/$id/${page + 1}$qp")
                  else None
                  respond(ex, 200, results(q, base, next, Some(q.schema),
                    Some(rows), binary), q.respHeaders)
              }
          }

        case ("DELETE", ("queued" | "executing") :: id :: _ :: Nil) =>
          queries.get(id) match {
            case None => respond(ex, 404, """{"message":"unknown query"}""")
            case Some(q) => cancel(q); respond(ex, 204, "")
          }

        case _ => respond(ex, 404, """{"message":"not found"}""")
      }
      }
    } catch {
      case e: Throwable =>
        try respond(ex, 500,
          s"""{"message":"${esc(String.valueOf(e.getMessage))}"}""")
        catch { case _: Throwable => () }
    }

  private val startedNanos = System.nanoTime()

  /** GET /v1/info — the reference's ServerInfoResource (presto-client
    * ServerInfo.java:45-49 shape: nodeVersion/environment/coordinator/
    * starting/uptime). */
  private def infoHandler: com.sun.net.httpserver.HttpHandler =
    (ex: com.sun.net.httpserver.HttpExchange) =>
      if (ex.getRequestMethod != "GET") respond(ex, 404, "{}")
      else {
        val upMs = (System.nanoTime() - startedNanos) / 1000000L
        respond(ex, 200,
          s"""{"nodeVersion":{"version":"graft-spark"},"environment":"graft","coordinator":true,"starting":false,"uptime":"${upMs / 1000.0}s"}""")
      }

  /** GET /v1/query/{id} — the infoUri target (reference QueryResource
    * basic query info: id, state, query text, error when failed). */
  private def queryInfoHandler: com.sun.net.httpserver.HttpHandler =
    (ex: com.sun.net.httpserver.HttpExchange) => if (authenticate(ex)) {
      val id = ex.getRequestURI.getPath.stripPrefix("/v1/query")
        .stripPrefix("/").takeWhile(_ != '/')
      (ex.getRequestMethod, queries.get(id)) match {
        case ("GET", Some(q)) =>
          val sb = new StringBuilder(128)
          sb.append(s"""{"queryId":"${q.id}","state":"${q.state}",""")
          sb.append(s""""query":"${esc(q.sql)}",""")
          sb.append(s""""queryStats":${statsJson(q)}""")
          if (q.error != null)
            sb.append(s""","errorCode":${errorJson(q.error)}""")
          sb.append("}")
          respond(ex, 200, sb.toString)
        case ("DELETE", Some(q)) => cancel(q); respond(ex, 204, "")
        case (_, None) => respond(ex, 404, """{"message":"unknown query"}""")
        case _ => respond(ex, 404, """{"message":"not found"}""")
      }
    }
}

/** Protocol client — the presto-client StatementClientV1.java loop
  * (POST, then advance() along nextUri until absent, raising the
  * QueryError if one arrives): used by tests and the driver gate to
  * round-trip SQL through real localhost HTTP. */
object StatementClient {

  private val mapper = new ObjectMapper()

  final case class Response(id: String, state: String,
      nextUri: Option[String], columns: Option[StructType],
      data: Seq[Row], error: Option[StatementServer.ProtoError])

  def parse(json: String): Response = {
    val n = mapper.readTree(json)
    val cols = Option(n.get("columns")).map { cs =>
      StructType((0 until cs.size()).map { i =>
        val c = cs.get(i)
        StructField(c.get("name").asText,
          StatementServer.sparkType(c.get("type").asText))
      })
    }
    val rows = (Option(n.get("data")), cols) match {
      case (Some(d), Some(schema)) =>
        (0 until d.size()).map { i =>
          val arr = d.get(i)
          Row.fromSeq(schema.fields.zipWithIndex.map { case (f, j) =>
            StatementServer.parseValue(arr.get(j), f.dataType)
          })
        }
      case _ => (Option(n.get("binaryData")), cols) match {
        // binaryResults mode: each entry is one base64 SerializedPage
        case (Some(b), Some(schema)) =>
          (0 until b.size()).flatMap(i => PageCodec.deserialize(schema,
            java.util.Base64.getDecoder.decode(b.get(i).asText)))
        case _ => Seq.empty
      }
    }
    val err = Option(n.get("error")).map { e =>
      StatementServer.ProtoError(e.get("message").asText,
        e.get("errorCode").asInt, e.get("errorName").asText,
        e.get("errorType").asText)
    }
    Response(n.get("id").asText,
      Option(n.get("stats")).map(_.get("state").asText).getOrElse(""),
      Option(n.get("nextUri")).map(_.asText), cols, rows, err)
  }

  def http(method: String, url: String,
      body: Option[String]): (Int, String) = {
    val (code, text, _) = httpFull(method, url, body, Map.empty)
    (code, text)
  }

  /** Raw exchange including request X-Presto-* headers and the response
    * headers (X-Presto-Set-Session / X-Presto-Added-Prepare / ...). */
  def httpFull(method: String, url: String, body: Option[String],
      reqHeaders: Map[String, String]): (Int, String, Map[String, String]) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(120000)
    reqHeaders.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "text/plain; charset=utf-8")
      if (!reqHeaders.contains("X-Presto-User"))
        conn.setRequestProperty("X-Presto-User", "graft")
      val os = conn.getOutputStream
      try os.write(b.getBytes(UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (in == null) ""
    else try new String(in.readAllBytes(), UTF_8) finally in.close()
    import scala.jdk.CollectionConverters._
    // the JDK HttpServer lowercases header tails (X-presto-set-session);
    // canonicalize each dash segment back to the documented spelling
    def canon(k: String): String = k.split('-')
      .map(s => if (s.isEmpty) s else s.head.toUpper +: s.tail.toLowerCase)
      .mkString("-")
    val respHeaders = conn.getHeaderFields.asScala.collect {
      case (k, vs) if k != null && k.toLowerCase.startsWith("x-presto-") =>
        canon(k) -> vs.asScala.mkString(",")
    }.toMap
    (code, text, respHeaders)
  }

  def post(baseUri: String, sql: String,
      headers: Map[String, String] = Map.empty): Response = {
    val (code, body, _) =
      httpFull("POST", s"$baseUri/v1/statement", Some(sql), headers)
    require(code == 200, s"POST /v1/statement -> $code: $body")
    parse(body)
  }

  def advance(uri: String): Response = {
    val (code, body) = http("GET", uri, None)
    require(code == 200, s"GET $uri -> $code: $body")
    parse(body)
  }

  /** advance() plus the response's X-Presto-* headers. */
  def advanceFull(uri: String): (Response, Map[String, String]) = {
    val (code, body, hdrs) = httpFull("GET", uri, None, Map.empty)
    require(code == 200, s"GET $uri -> $code: $body")
    (parse(body), hdrs)
  }

  def cancel(uri: String): Int = http("DELETE", uri, None)._1

  /** Full protocol loop: submit, follow nextUri, assemble the result.
    * `binary = true` asks for SerializedPage pages (?binaryResults=true,
    * the reference's binary transport) instead of JSON rows. */
  def execute(spark: SparkSession, baseUri: String, sql: String,
      binary: Boolean = false): DataFrame = {
    var r = post(baseUri, sql)
    var schema: StructType = null
    val rows = Vector.newBuilder[Row]
    var spin = 0
    while (r.nextUri.isDefined) {
      r.columns.foreach(schema = _)
      rows ++= r.data
      // real clients poll; localhost answers fast, so only yield briefly
      if (r.data.isEmpty && r.columns.isEmpty) {
        spin += 1
        if (spin > 10000) throw new IllegalStateException("poll livelock")
        Thread.sleep(if (spin > 100) 10 else 0)
      }
      val uri = r.nextUri.get
      r = advance(
        if (binary && uri.contains("/executing/") && !uri.contains("?"))
          uri + "?binaryResults=true"
        else uri)
    }
    r.columns.foreach(schema = _)
    rows ++= r.data
    r.error.foreach(e => throw new RuntimeException(
      s"${e.errorName}: ${e.message}"))
    require(schema != null, s"no columns returned (state=${r.state})")
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.result().asJava, schema)
  }
}
