package graft.api

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DDL / catalog statement surface of the reference coordinator: CREATE /
  * DROP VIEW (presto-main-base/.../execution/CreateViewTask.java,
  * DropViewTask.java), CREATE TABLE AS + INSERT (the table-write plans in
  * …/sql/planner/LogicalPlanner.java:263 createTableCreationPlan /
  * createInsertPlan), DROP / TRUNCATE / RENAME TABLE (DropTableTask.java,
  * TruncateTableTask.java, RenameTableTask.java, RenameViewTask.java) and
  * the SHOW family, which the reference rewrites into queries over
  * information_schema (…/sql/rewrite/ShowQueriesRewrite.java) or into a
  * stats scan (ShowStatsRewrite.java → …/cost/StatsCalculator).
  *
  * Spark-first mapping: views are session temp views holding the analyzed
  * plan (re-optimized per consuming query, like the reference's stored
  * view definitions); CTAS/INSERT materialize through the parquet
  * source-sink into a session-scoped workspace directory, so written
  * tables are real distributed datasets — scans of them prune and push
  * down like any other parquet table. Catalog queries (SHOW TABLES /
  * COLUMNS / FUNCTIONS) read Spark's catalog — pure metadata, no data
  * motion. SHOW STATS runs one distributed aggregation pass computing
  * exact per-column stats (the reference's ANALYZE-backed path; its
  * connector-estimated path is Spark's CBO, pinned in StatsSpec).
  *
  * Created objects live in a SessionScope catalog slot: they follow the
  * session, and the statement server's per-request clones see them, as
  * every request sees the reference's coordinator metadata.
  */
object DdlStatements {

  private sealed trait Entry
  private final case class ViewEntry(definition: String) extends Entry
  private final case class TableEntry(path: String) extends Entry

  private val objects = SessionScope.catalog(Map.empty[String, Entry])

  private val CreateView =
    """(?is)\ACREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.+)\z""".r
  private val DropView =
    """(?is)\ADROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\z""".r
  private val CreateTable =
    """(?is)\ACREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.+)\z""".r
  private val DropTable =
    """(?is)\ADROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\z""".r
  private val InsertInto =
    """(?is)\AINSERT\s+INTO\s+([\w.]+)\s+(.+)\z""".r
  private val RenameTable =
    """(?is)\AALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\z""".r
  private val RenameView =
    """(?is)\AALTER\s+VIEW\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\z""".r
  private val Truncate =
    """(?is)\ATRUNCATE\s+TABLE\s+([\w.]+)\z""".r
  private val ShowTables = """(?is)\ASHOW\s+TABLES\z""".r
  private val ShowCatalogs = """(?is)\ASHOW\s+CATALOGS\z""".r
  private val ShowSchemas = """(?is)\ASHOW\s+SCHEMAS\z""".r
  private val ShowCreateView = """(?is)\ASHOW\s+CREATE\s+VIEW\s+([\w.]+)\z""".r
  private val ShowColumns =
    """(?is)\A(?:SHOW\s+COLUMNS\s+FROM|DESCRIBE|DESC)\s+([\w.]+)\z""".r
  private val ShowFunctions =
    """(?is)\ASHOW\s+FUNCTIONS(?:\s+LIKE\s+'([^']*)')?\z""".r
  private val ShowStats =
    """(?is)\ASHOW\s+STATS\s+FOR\s+([\w.]+)\z""".r
  // Spark-native modes (EXPLAIN COST/EXTENDED/FORMATTED/CODEGEN) pass
  // through to spark.sql untouched — only the reference's (TYPE …) /
  // ANALYZE / bare forms dispatch here.
  private val Explain =
    """(?is)\AEXPLAIN\s+(?!(?:COST|EXTENDED|FORMATTED|CODEGEN)\b)(?:\(\s*(?:TYPE\s+(\w+))?\s*,?\s*(?:FORMAT\s+(\w+))?\s*\)\s+)?(?:(ANALYZE)\s+)?(.+)\z""".r

  /** Try to handle `text` as a DDL/catalog statement; None → plain query. */
  def dispatch(ses: SqlSession, text: String): Option[DataFrame] = {
    val spark = ses.spark
    def entry(name: String) = SessionScope.get(spark, objects).get(name)
    def put(name: String, e: Entry) =
      SessionScope.update(spark, objects)(_ + (name -> e))
    def remove(name: String) = SessionScope.update(spark, objects)(_ - name)
    text match {
      case CreateView(orReplace, rawName, query) =>
        val name = local(rawName)
        if (orReplace == null && exists(spark, name))
          throw new IllegalArgumentException(s"View already exists: $name")
        ses.sql(query).createOrReplaceTempView(name)
        put(name, ViewEntry(query.trim))
        Some(status(spark, "CREATE VIEW"))
      case DropView(ifExists, rawName) =>
        val name = local(rawName)
        entry(name) match {
          case Some(_: ViewEntry) =>
            spark.catalog.dropTempView(name); remove(name)
            Some(status(spark, "DROP VIEW"))
          case Some(_: TableEntry) =>
            throw new IllegalArgumentException(s"Not a view: $name (use DROP TABLE)")
          case None if ifExists != null => Some(status(spark, "DROP VIEW"))
          case None =>
            throw new IllegalArgumentException(s"View not found: $name")
        }
      case CreateTable(ifNotExists, rawName, query) =>
        val name = local(rawName)
        if (exists(spark, name)) {
          if (ifNotExists != null) Some(rowsResult(spark, 0L))
          else throw new IllegalArgumentException(s"Table already exists: $name")
        } else {
          val df = ses.sql(query)
          val path = tablePath(name)
          df.write.mode(SaveMode.Overwrite).parquet(path)
          val back = spark.read.parquet(path)
          back.createOrReplaceTempView(name)
          put(name, TableEntry(path))
          Some(rowsResult(spark, back.count()))
        }
      case DropTable(ifExists, rawName) =>
        val name = local(rawName)
        entry(name) match {
          case Some(TableEntry(path)) =>
            spark.catalog.dropTempView(name); remove(name)
            deletePath(spark, path)
            Some(status(spark, "DROP TABLE"))
          case Some(_: ViewEntry) =>
            throw new IllegalArgumentException(s"Not a table: $name (use DROP VIEW)")
          case None if ifExists != null => Some(status(spark, "DROP TABLE"))
          case None =>
            throw new IllegalArgumentException(s"Table not found: $name")
        }
      case InsertInto(rawName, query) =>
        val name = local(rawName)
        entry(name) match {
          case Some(TableEntry(path)) =>
            val target = spark.read.parquet(path).schema
            val src = ses.sql(query)
            if (src.schema.length != target.length)
              throw new IllegalArgumentException(
                s"Insert column count ${src.schema.length} does not match " +
                  s"table $name (${target.length})")
            // positional insert with coercion to the table's column types,
            // the reference's insert contract (LogicalPlanner createInsertPlan)
            val aligned = src.select(src.columns.zip(target.fields).map {
              case (c, f) => col(c).cast(f.dataType).as(f.name)
            }.toIndexedSeq: _*)
            // single execution: count the table before and after the write
            // (a separate count() would run the source query twice and
            // could disagree with the appended rows for nondeterministic
            // sources — the reference's insert row count is what LANDED,
            // TableFinishOperator.java)
            val before = spark.read.parquet(path).count()
            aligned.write.mode(SaveMode.Append).parquet(path)
            spark.catalog.refreshByPath(path)
            val back = spark.read.parquet(path)
            back.createOrReplaceTempView(name)
            Some(rowsResult(spark, back.count() - before))
          case Some(_: ViewEntry) =>
            throw new IllegalArgumentException(s"Inserting into views is not supported: $name")
          case None =>
            throw new IllegalArgumentException(s"Table not found: $name")
        }
      case RenameTable(rawFrom, rawTo) =>
        val (from, to) = (local(rawFrom), local(rawTo))
        entry(from) match {
          case Some(e: TableEntry) =>
            if (exists(spark, to))
              throw new IllegalArgumentException(s"Target table already exists: $to")
            spark.catalog.dropTempView(from); remove(from)
            spark.read.parquet(e.path).createOrReplaceTempView(to)
            put(to, e)
            Some(status(spark, "RENAME TABLE"))
          case _ => throw new IllegalArgumentException(s"Table not found: $from")
        }
      case RenameView(rawFrom, rawTo) =>
        val (from, to) = (local(rawFrom), local(rawTo))
        entry(from) match {
          case Some(v: ViewEntry) =>
            if (exists(spark, to))
              throw new IllegalArgumentException(s"Target view already exists: $to")
            val plan = spark.table(from)
            spark.catalog.dropTempView(from); remove(from)
            plan.createOrReplaceTempView(to)
            put(to, v)
            Some(status(spark, "RENAME VIEW"))
          case _ => throw new IllegalArgumentException(s"View not found: $from")
        }
      case Truncate(rawName) =>
        val name = local(rawName)
        entry(name) match {
          case Some(TableEntry(path)) =>
            val schema = spark.read.parquet(path).schema
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
              .write.mode(SaveMode.Overwrite).parquet(path)
            spark.catalog.refreshByPath(path)
            spark.read.parquet(path).createOrReplaceTempView(name)
            Some(status(spark, "TRUNCATE TABLE"))
          case _ => throw new IllegalArgumentException(s"Table not found: $name")
        }
      case ShowTables() =>
        val rows = spark.catalog.listTables().collect()
          .map(t => t.name.toLowerCase).sorted.map(Row(_)).toIndexedSeq
        Some(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("table_name", StringType, nullable = false)))))
      case ShowCatalogs() =>
        // single-catalog engine (the coordinator's connector list —
        // ShowQueriesRewrite visitShowCatalogs)
        Some(spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row("graft")), 1),
          StructType(Seq(StructField("catalog", StringType, nullable = false)))))
      case ShowSchemas() =>
        val rows = spark.catalog.listDatabases().collect()
          .map(_.name.toLowerCase).sorted.map(Row(_)).toIndexedSeq
        Some(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("schema", StringType, nullable = false)))))
      case ShowCreateView(rawName) =>
        val name = local(rawName)
        entry(name) match {
          case Some(ViewEntry(definition)) =>
            Some(spark.createDataFrame(
              spark.sparkContext.parallelize(
                Seq(Row(s"CREATE VIEW $name AS\n$definition")), 1),
              StructType(Seq(
                StructField("create_view", StringType, nullable = false)))))
          case _ =>
            throw new IllegalArgumentException(s"View not found: $name")
        }
      case ShowColumns(rawName) =>
        val name = local(rawName)
        val rows = spark.table(name).schema.fields.toIndexedSeq.map { f =>
          Row(f.name, prestoTypeName(f.dataType), "", "")
        }
        Some(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("column_name", StringType, nullable = false),
            StructField("data_type", StringType, nullable = false),
            StructField("extra", StringType, nullable = false),
            StructField("comment", StringType, nullable = false)))))
      case ShowFunctions(like) =>
        val pat = Option(like).map(p =>
          ("(?i)\\A" + java.util.regex.Pattern.quote(p)
            .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "\\z").r)
        val names = (spark.catalog.listFunctions().collect()
          .map(_.name.toLowerCase) ++ SqlFunctions.list(spark))
          .distinct.sorted
          .filter(n => pat.forall(_.findFirstIn(n).isDefined))
        Some(spark.createDataFrame(
          spark.sparkContext.parallelize(names.map(Row(_)).toIndexedSeq, 1),
          StructType(Seq(StructField("function_name", StringType, nullable = false)))))
      case ShowStats(rawName) =>
        Some(showStats(spark, local(rawName)))
      case Explain(typ, fmt, analyze, query) =>
        Some(explain(ses, Option(typ).map(_.toUpperCase),
          analyze != null, query, Option(fmt).map(_.toUpperCase)))
      case _ => None
    }
  }

  /** EXPLAIN [(TYPE LOGICAL|DISTRIBUTED|VALIDATE|IO)] [ANALYZE] q — the
    * reference's ExplainRewrite.java / ExplainTask mapped onto Catalyst:
    * LOGICAL → the optimized logical plan, DISTRIBUTED (default) → the
    * physical plan with its exchanges, VALIDATE → analysis only (row
    * {valid: true}; analysis errors propagate), IO → the scanned paths +
    * pruned read schema per source (IOPlanPrinter's catalog/columns
    * view), ANALYZE → execute first, then report the plan plus the row
    * count actually produced. */
  private def explain(ses: SqlSession, typ: Option[String],
      analyze: Boolean, query: String,
      format: Option[String] = None): DataFrame = {
    val spark = ses.spark
    val df = ses.sql(query)
    def planRows(text: String): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(text)), 1),
        StructType(Seq(StructField("query_plan", StringType, nullable = false))))
    // FORMAT JSON (reference ExplainTask with JsonRenderer): the
    // JsonRenderedNode shape json_presto_query_plan_* consume — LOGICAL
    // renders the optimized logical plan, anything else the physical plan
    if (format.contains("JSON"))
      return planRows(graft.functions.PlanJson.render(
        if (typ.contains("LOGICAL")) df.queryExecution.optimizedPlan
        else df.queryExecution.executedPlan))
    typ match {
      case Some("VALIDATE") =>
        df.queryExecution.assertAnalyzed()
        spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(true)), 1),
          StructType(Seq(StructField("valid", BooleanType, nullable = false))))
      case Some("IO") =>
        val scans = df.queryExecution.executedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Row(f.relation.location.rootPaths.mkString(", "),
              f.requiredSchema.fieldNames.mkString(", "))
        }
        spark.createDataFrame(spark.sparkContext.parallelize(scans, 1),
          StructType(Seq(StructField("source", StringType, nullable = false),
            StructField("columns", StringType, nullable = false))))
      case Some("LOGICAL") => planRows(df.queryExecution.optimizedPlan.toString)
      case _ =>
        if (analyze) {
          // reference EXPLAIN ANALYZE (ExplainAnalyzeOperator /
          // PlanPrinter.textDistributedPlan with actuals): execute the
          // query, then render the final plan annotated with each
          // operator's ACTUAL metrics (output rows, timing where the
          // operator records it) — descending AQE query stages, whose
          // materialized subtrees hang off the stage node.
          // execute THIS plan (df.count() would build a different query
          // whose run leaves these operators' metrics empty)
          val n = df.queryExecution.toRdd.count()
          val sb = new StringBuilder
          def metricsOf(p: org.apache.spark.sql.execution.SparkPlan): String = {
            val keep = p.metrics.toSeq.filter { case (k, m) =>
              m.value > 0 && (k == "numOutputRows" || k == "numFiles" ||
                k.endsWith("Time") || k == "spillSize" || k == "peakMemory")
            }.sortBy(_._1)
            if (keep.isEmpty) ""
            else keep.map { case (k, m) => s"$k=${m.value}" }
              .mkString(" [", ", ", "]")
          }
          def render(p: org.apache.spark.sql.execution.SparkPlan,
              depth: Int): Unit = {
            sb.append("  " * depth).append(p.nodeName)
              .append(metricsOf(p)).append('\n')
            p match {
              case a: org.apache.spark.sql.execution.adaptive
                  .AdaptiveSparkPlanExec => render(a.executedPlan, depth + 1)
              case s: org.apache.spark.sql.execution.adaptive
                  .QueryStageExec => render(s.plan, depth + 1)
              case _ => p.children.foreach(render(_, depth + 1))
            }
          }
          render(df.queryExecution.executedPlan, 0)
          sb.append(s"rows: $n")
          planRows(sb.toString)
        } else planRows(df.queryExecution.executedPlan.toString)
    }
  }

  /** SHOW STATS FOR t — exact per-column statistics in one distributed
    * aggregation pass (column layout of ShowStatsRewrite.java): data_size
    * (bytes, string columns), distinct_values_count, nulls_fraction,
    * low/high values rendered as strings, plus the summary row carrying
    * row_count. Exact counts: this is the ANALYZE-equivalent full pass —
    * partial aggregation keeps it one shuffle of constant-width state per
    * column regardless of table size. */
  private def showStats(spark: SparkSession, name: String): DataFrame = {
    val df = spark.table(name)
    val nullD = lit(null).cast(DoubleType)
    val nullS = lit(null).cast(StringType)
    def statStruct(f: StructField): org.apache.spark.sql.Column = {
      val c = col(f.name)
      val dataSize = f.dataType match {
        case StringType | BinaryType =>
          sum(coalesce(octet_length(c), lit(0))).cast(DoubleType)
        case _ => nullD
      }
      val orderable = f.dataType match {
        case _: MapType | _: ArrayType | _: StructType => false
        case _ => true
      }
      val distinctCount = f.dataType match {
        case _: MapType => nullD // map equality is undefined for DISTINCT
        case _ => countDistinct(c).cast(DoubleType)
      }
      struct(
        lit(f.name).as("column_name"),
        dataSize.as("data_size"),
        distinctCount.as("distinct_values_count"),
        (sum(when(c.isNull, 1L).otherwise(0L)) / count(lit(1L)))
          .as("nulls_fraction"),
        nullD.as("row_count"),
        (if (orderable) min(c).cast(StringType) else nullS).as("low_value"),
        (if (orderable) max(c).cast(StringType) else nullS).as("high_value"))
    }
    val summary = struct(nullS.as("column_name"), nullD.as("data_size"),
      nullD.as("distinct_values_count"), nullD.as("nulls_fraction"),
      count(lit(1L)).cast(DoubleType).as("row_count"),
      nullS.as("low_value"), nullS.as("high_value"))
    df.agg(array((df.schema.fields.toIndexedSeq.map(statStruct) :+ summary): _*)
        .as("stats"))
      .select(explode(col("stats")).as("s"))
      .select(col("s.*"))
  }

  /** Presto-facing type names (the COMMON type-class spellings, e.g.
    * VarcharType.java / IntegerType.java) for the catalog surfaces;
    * Catalyst names otherwise. */
  def prestoTypeName(dt: DataType): String = dt match {
    case dt if graft.functions.TimeTzFunctions.isTimeTz(dt) =>
      "time with time zone"
    case StringType => "varchar"
    case BinaryType => "varbinary"
    case IntegerType => "integer"
    case LongType => "bigint"
    case ShortType => "smallint"
    case ByteType => "tinyint"
    case FloatType => "real"
    case DoubleType => "double"
    case BooleanType => "boolean"
    case DateType => "date"
    case TimestampType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case a: ArrayType => s"array(${prestoTypeName(a.elementType)})"
    case m: MapType => s"map(${prestoTypeName(m.keyType)}, ${prestoTypeName(m.valueType)})"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${prestoTypeName(f.dataType)}")
        .mkString("row(", ", ", ")")
    case other => other.sql.toLowerCase
  }

  private def local(name: String): String = name.split('.').last.toLowerCase

  private def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** A fresh directory per CTAS: two sessions (or two JVMs sharing
    * java.io.tmpdir/graft-tables) never write or DROP each other's data. */
  private def tablePath(name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-tables/$name-${java.util.UUID.randomUUID()}").getAbsolutePath

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true); ()
  }

  private[api] def rowsResult(spark: SparkSession, n: Long): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(n)), 1),
      StructType(Seq(StructField("rows", LongType, nullable = false))))

  private def status(spark: SparkSession, s: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(s)), 1),
      StructType(Seq(StructField("result", StringType, nullable = false))))

  /** Status row for sibling dispatchers (SqlFunctions DDL). */
  private[api] def statusResult(spark: SparkSession, s: String): DataFrame =
    status(spark, s)
}
