package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Session-statement surface of the reference's coordinator: PREPARE /
  * EXECUTE [USING] / DEALLOCATE PREPARE (presto-main-base/.../execution/
  * PrepareTask.java, DeallocateTask.java, the parameter rewrite in
  * …/sql/planner/ParameterRewriter.java), DESCRIBE INPUT / DESCRIBE OUTPUT
  * (…/sql/rewrite/DescribeInputRewrite.java, DescribeOutputRewrite.java)
  * and SET / RESET / SHOW SESSION (…/execution/SetSessionTask.java,
  * ResetSessionTask.java, properties in …/SystemSessionProperties.java).
  *
  * Statements are session-scoped: prepared names and properties live in
  * SessionScope request slots, so they follow the SparkSession exactly
  * like the reference's Session object, and a statement-server clone
  * starts without them (the client resends them in headers, see
  * [[responseHeaders]]). Two reference properties are bridged to
  * their Spark equivalents (`hash_partition_count` →
  * spark.sql.shuffle.partitions, `join_distribution_type` → the broadcast
  * threshold); every property round-trips through SHOW SESSION.
  *
  * DESCRIBE OUTPUT reports (column_name, type) — the reference adds
  * catalog/schema/table provenance columns Catalyst doesn't track
  * per-column; DESCRIBE INPUT reports positions with type `unknown`, the
  * reference's answer for parameters whose type isn't inferable.
  */
object SessionStatements {

  private val prepared = SessionScope.request(Map.empty[String, String])
  private val props = SessionScope.request(Map.empty[String, String])

  private val Prepare = """(?is)\APREPARE\s+(\w+)\s+FROM\s+(.+)\z""".r
  private val Execute = """(?is)\AEXECUTE\s+(\w+)(?:\s+USING\s+(.+))?\z""".r
  private val Dealloc = """(?is)\ADEALLOCATE\s+PREPARE\s+(\w+)\z""".r
  private val DescIn = """(?is)\ADESCRIBE\s+INPUT\s+(\w+)\z""".r
  private val DescOut = """(?is)\ADESCRIBE\s+OUTPUT\s+(\w+)\z""".r
  private val SetSess = """(?is)\ASET\s+SESSION\s+([\w.]+)\s*=\s*(.+)\z""".r
  private val ResetSess = """(?is)\ARESET\s+SESSION\s+([\w.]+)\z""".r
  private val ShowSess = """(?is)\ASHOW\s+SESSION\z""".r
  // transaction control (SqlBase.g4 startTransaction/commit/rollback;
  // StartTransactionTask / CommitTask / RollbackTask)
  private val StartTx = """(?is)\ASTART\s+TRANSACTION(?:\s+(.*))?\z""".r
  private val CommitTx = """(?is)\ACOMMIT(?:\s+WORK)?\z""".r
  private val RollbackTx = """(?is)\AROLLBACK(?:\s+WORK)?\z""".r

  /** Try to handle `text` as a session statement; None → plain query. */
  def dispatch(ses: SqlSession, text: String): Option[DataFrame] = {
    val spark = ses.spark
    text match {
      case Prepare(name, query) =>
        SessionScope.update(spark, prepared)(_ + (name.toLowerCase -> query.trim))
        Some(status(spark, "PREPARE"))
      case Execute(name, using) =>
        val q = lookup(spark, name)
        val params = Option(using).map(Text.splitTop).getOrElse(Nil)
        Some(ses.sql(substitute(q, params)))
      case Dealloc(name) =>
        lookup(spark, name) // raises on unknown name like DeallocateTask
        SessionScope.update(spark, prepared)(_ - name.toLowerCase)
        Some(status(spark, "DEALLOCATE"))
      case DescIn(name) =>
        val n = parameters(lookup(spark, name)).length
        Some(spark.createDataFrame(
          spark.sparkContext.parallelize(
            (1 to n).map(i => Row(i.toLong, "unknown")), 1),
          StructType(Seq(StructField("position", LongType, nullable = false),
            StructField("type", StringType, nullable = false)))))
      case DescOut(name) =>
        val schema = ses.sql(substitute(lookup(spark, name),
          List.fill(parameters(lookup(spark, name)).length)("NULL"))).schema
        Some(spark.createDataFrame(
          spark.sparkContext.parallelize(
            // reference type spellings (DescribeOutputRewrite emits varchar
            // etc.), matching SHOW COLUMNS' vocabulary
            schema.fields.map(f =>
              Row(f.name, DdlStatements.prestoTypeName(f.dataType))).toSeq, 1),
          StructType(Seq(StructField("column_name", StringType, nullable = false),
            StructField("type", StringType, nullable = false)))))
      case SetSess(key, raw) =>
        val v = unquote(raw.trim)
        SessionScope.update(spark, props)(_ + (key -> v))
        bridge(spark, key, Some(v))
        Some(status(spark, "SET SESSION"))
      case ResetSess(key) =>
        SessionScope.update(spark, props)(_ - key)
        bridge(spark, key, None)
        Some(status(spark, "RESET SESSION"))
      case ShowSess() =>
        val rows = SessionScope.get(spark, props).toSeq.sortBy(_._1)
          .map { case (k, v) => Row(k, v) }
        Some(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("name", StringType, nullable = false),
            StructField("value", StringType, nullable = false)))))
      case StartTx(modes) =>
        val m = Option(modes).getOrElse("").toUpperCase
        if (m.contains("READ ONLY") && m.contains("READ WRITE"))
          throw new IllegalArgumentException("Invalid transaction mode")
        val iso = "ISOLATION\\s+LEVEL\\s+(READ\\s+UNCOMMITTED|READ\\s+COMMITTED|REPEATABLE\\s+READ|SERIALIZABLE)".r
          .findFirstMatchIn(m).map(_.group(1).replaceAll("\\s+", " "))
          .getOrElse("READ COMMITTED")
        graft.ops.Transactions.begin(spark,
          readOnly = m.contains("READ ONLY"), isolation = iso)
        Some(status(spark, "START TRANSACTION"))
      case CommitTx() =>
        graft.ops.Transactions.commit(spark)
        Some(status(spark, "COMMIT"))
      case RollbackTx() =>
        graft.ops.Transactions.rollback(spark)
        Some(status(spark, "ROLLBACK"))
      case _ => None
    }
  }

  /** Response headers of a session statement, as the reference's
    * coordinator reports them (PrestoHeaders.java:28-34): the client folds
    * them into its next request's X-Presto-* headers. Values are the ones
    * [[dispatch]] applies, URL-encoded. */
  def responseHeaders(text: String): Map[String, String] = {
    def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
    text match {
      case SetSess(key, raw) =>
        Map("X-Presto-Set-Session" -> s"$key=${enc(unquote(raw.trim))}")
      case ResetSess(key) => Map("X-Presto-Clear-Session" -> key)
      case Prepare(name, query) =>
        Map("X-Presto-Added-Prepare" -> s"$name=${enc(query.trim)}")
      case Dealloc(name) => Map("X-Presto-Deallocated-Prepare" -> name)
      case _ => Map.empty
    }
  }

  private def lookup(spark: SparkSession, name: String): String =
    SessionScope.get(spark, prepared).getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"Prepared statement not found: ${name.toLowerCase}"))

  private def status(spark: SparkSession, s: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(s)), 1),
      StructType(Seq(StructField("result", StringType, nullable = false))))

  /** Reference session properties with a direct Spark equivalent. */
  private def bridge(spark: SparkSession, key: String, v: Option[String]): Unit =
    key match {
      case "hash_partition_count" =>
        v match {
          case Some(n) => spark.conf.set("spark.sql.shuffle.partitions", n.toInt)
          case None => spark.conf.unset("spark.sql.shuffle.partitions")
        }
      case "join_distribution_type" =>
        v.map(_.toUpperCase) match {
          case Some("PARTITIONED") =>
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
          case _ => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
      // reference HBO toggles (SystemSessionProperties.java:
      // track_history_based_plan_statistics /
      // use_history_based_plan_statistics) — both map onto the one
      // history store + hint rule in rules/HistoryBasedStats.scala
      case "track_history_based_plan_statistics"
         | "use_history_based_plan_statistics" =>
        v.map(_.toLowerCase) match {
          case Some("true") => graft.rules.HistoryBasedStats.install(spark)
          case _ => graft.rules.HistoryBasedStats.enabled = false
        }
      case _ => () // engine-agnostic property: recorded, surfaced by SHOW
    }

  private def unquote(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("''", "'")
    else s

  /** Offsets of the positional `?` parameters: code only, so a `?` in a
    * literal, quoted identifier or comment is not one. */
  private def parameters(sql: String): Seq[Int] = {
    val m = Text.masked(sql)
    m.indices.filter(m.charAt(_) == '?')
  }

  /** Substitute `?` placeholders left-to-right with literal texts —
    * the textual analogue of ParameterRewriter over the parsed tree. */
  private def substitute(sql: String, params: Seq[String]): String = {
    val at = parameters(sql)
    if (at.length != params.length) throw new IllegalArgumentException(
      s"Incorrect number of parameters: expected ${at.length} but found " +
        params.length)
    val sb = new StringBuilder
    var last = 0
    at.zip(params).foreach { case (i, p) =>
      sb.append(sql.substring(last, i)).append(p)
      last = i + 1
    }
    sb.append(sql.substring(last)).toString
  }
}
