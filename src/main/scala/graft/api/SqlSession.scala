package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.functions.GraftFunctions

/** The engine's SQL entry point — the role of the reference's coordinator
  * dispatch path (SURVEY.md §3.1: QueuedStatementResource → parse → analyze
  * → plan), collapsed onto Catalyst: `sql(text)` returns a lazily-planned
  * DataFrame; Catalyst is the parser/analyzer/optimizer, our overlay
  * supplies reference-dialect function names and semantics knobs.
  *
  * Semantics configuration (SURVEY.md §7.4 hard parts):
  *  - duplicate map keys raise (spark.sql.mapKeyDedupPolicy=EXCEPTION,
  *    matching COMMON/block/DuplicateMapKeyException.java)
  *  - session timezone pinned UTC
  *  - custom function overlay registered (jaro_winkler_similarity,
  *    approx_set/merge_hll/hll_cardinality, cosine_similarity, …)
  *
  * Dialect notes: Spark SQL already accepts the bulk of the reference's
  * ANSI surface (date literals, INTERVAL, FILTER (WHERE), GROUPING SETS,
  * LATERAL, ||, 1-based element_at/subscripts). `Dialect.translate` shims
  * the residual function-name differences plus the grammar idioms Spark
  * spells differently: UNNEST-as-relation (→ LATERAL + explode TVFs),
  * TABLESAMPLE BERNOULLI/SYSTEM (→ TABLESAMPLE PERCENT), TRY(expr),
  * 1-based subscripts, and GROUPS window frames (rewritten through the
  * same frame translation ops/Windows.scala uses — gated by
  * `win_groups_sql`).
  */
final class SqlSession private (val spark: SparkSession) {

  /** Run reference-dialect SQL; returns a lazily-planned DataFrame.
    * UNNEST(x) AS t(a, b) is textually ambiguous between the map form and
    * array<row<a,b>> struct expansion — the map translation is tried
    * first and the struct translation on analysis failure. */
  def sql(text0: String): DataFrame = {
    // FROM-position lake scans (delta_scan/hudi_scan/iceberg_scan) bind
    // to temp views before any other dispatch — the dialect's stand-in
    // for the reference's delta/hudi/iceberg catalogs
    LakeScans.dispatchInsert(this, text0).foreach(df => return df)
    LakeScans.dispatchMerge(this, text0).foreach(df => return df)
    LakeScans.dispatchDml(this, text0).foreach(df => return df)
    Procedures.dispatch(this, text0).foreach(df => return df)
    val text = SqlSession.bindSystemTables(spark,
      LakeScans.rewrite(spark, text0))
    SessionStatements.dispatch(this, text)
      .orElse(SqlFunctions.dispatch(spark, text)
        .map(DdlStatements.statusResult(spark, _)))
      .orElse(AccessControl.dispatch(this, text))
      .orElse(EnumTypes.dispatch(this, text))
      .orElse(DdlStatements.dispatch(this, text)).getOrElse {
      // SQL-invoked functions inline at translate time, the reference's
      // InlineSqlFunctions strategy (no-op when none are registered)
      val inlined0 = SqlFunctions.inline(spark, text)
      // enum / distinct types splice their validated casts here (the
      // reference's static-type dispatch, done at rewrite time)
      val inlined = EnumTypes.rewrite(spark, inlined0)
      val t1 = Dialect.translate(inlined)
      // row filters / column masks: secure every policied view for this
      // statement, pin analysis against the secured plans, then restore
      val restore = AccessControl.secureViews(spark, inlined)
      try {
        val df = try spark.sql(t1)
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            val t2 = Dialect.translate(inlined, unnestStructRows = true)
            if (t2 == t1) throw e
            else try spark.sql(t2)
            catch { case _: org.apache.spark.sql.AnalysisException => throw e }
        }
        df.queryExecution.analyzed // resolve before the views swap back
        AccessControl.checkPlan(spark, df)
      } finally restore()
    }
  }

  /** Register every fixture table under `dir` as a temp view. */
  def loadTables(dir: String): SqlSession = {
    Tables.registerAll(spark, dir)
    this
  }

  def table(name: String): DataFrame = spark.table(name)
}

object SqlSession {

  /** Wrap an existing SparkSession: set semantics knobs + function overlay
    * + graft optimizer rules (idempotent). */
  def wrap(spark: SparkSession): SqlSession = {
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // reference `time` type (StandardTypes.java:45): Spark 4.1 ships a
    // native TIME behind a flag — literals, casts, make_time, extraction
    // and interval arithmetic all work once enabled. `time with time
    // zone` stays unsupported with a clear dialect error.
    spark.conf.set("spark.sql.timeType.enabled", "true")
    // reference identifiers are ANSI double-quoted ("table"."column" —
    // every benchto text); strings are single-quoted in both dialects
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    GraftFunctions.register(spark)
    graft.rules.GraftRules.install(spark)
    new SqlSession(spark)
  }

  /** system.runtime.* observability tables (reference
    * QuerySystemTable.java / NodesSystemTable.java) and
    * information_schema.tables/columns (reference
    * InformationSchemaMetadata.java:63-66 table set; ANSI shapes), each a
    * snapshot taken when a statement names it. */
  private val systemTables: Map[String, SparkSession => DataFrame] = Map(
    "system.runtime.queries" -> StatementServer.runtimeQueries,
    "system.runtime.nodes" -> StatementServer.runtimeNodes,
    "information_schema.tables" -> informationSchemaTables,
    "information_schema.columns" -> informationSchemaColumns)

  private val systemTableName = systemTables.keys
    .map(java.util.regex.Pattern.quote).mkString("(?i)\\b(", "|", ")\\b").r

  /** Rewrite each system-table name in code position to a temp view
    * (`system.runtime.queries` → `system_runtime_queries`) and snapshot
    * the views it names; names inside literals and comments stay text. */
  private def bindSystemTables(spark: SparkSession, text: String): String = {
    if (systemTableName.findFirstIn(text).isEmpty) return text
    val named = scala.collection.mutable.Set.empty[String]
    val out = Text.mapCode(text)(systemTableName.replaceAllIn(_, { m =>
      named += m.group(1).toLowerCase
      m.group(1).toLowerCase.replace('.', '_')
    }))
    named.foreach(n =>
      systemTables(n)(spark).createOrReplaceTempView(n.replace('.', '_')))
    out
  }

  /** One (catalog, schema, name, type) row per catalog entry — the
    * reference's information_schema.tables (ANSI; temp views report as
    * VIEW, persisted tables as BASE TABLE). Metadata-only listing. */
  private[api] def informationSchemaTables(
      spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rows = spark.catalog.listTables().collect().toSeq.map { t =>
      Row("graft", Option(t.database).getOrElse("default"), t.name,
        if (t.tableType == "VIEW" || t.isTemporary) "VIEW" else "BASE TABLE")
    }
    val schema = StructType(Seq(
      StructField("table_catalog", StringType),
      StructField("table_schema", StringType),
      StructField("table_name", StringType),
      StructField("table_type", StringType)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** ANSI information_schema.columns over every catalog entry, with the
    * reference's type spellings (DdlStatements.prestoTypeName — the same
    * mapping SHOW COLUMNS and the wire protocol use). */
  private[api] def informationSchemaColumns(
      spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rows = spark.catalog.listTables().collect().toSeq.flatMap { t =>
      val db = Option(t.database).getOrElse("default")
      try {
        spark.table(t.name).schema.fields.zipWithIndex.map { case (f, i) =>
          Row("graft", db, t.name, f.name, (i + 1).toLong, null,
            if (f.nullable) "YES" else "NO",
            StatementServer.prestoType(f.dataType))
        }.toSeq
      } catch { case _: Throwable => Seq.empty } // unreadable entry: skip
    }
    val schema = StructType(Seq(
      StructField("table_catalog", StringType),
      StructField("table_schema", StringType),
      StructField("table_name", StringType),
      StructField("column_name", StringType),
      StructField("ordinal_position", LongType),
      StructField("column_default", StringType),
      StructField("is_nullable", StringType),
      StructField("data_type", StringType)))
    spark.createDataFrame(rows.asJava, schema)
  }
}

/** Textual shims for reference function names Spark spells differently.
  * Word-boundary, call-position replacement only (name followed by `(`),
  * case-insensitive. The text is first segmented into code vs quoted/comment
  * regions ('…' with '' escapes, "…" identifiers, `--` line and slash-star
  * block comments) — renames only ever touch code, so `SELECT 'call
  * arbitrary(x)'` keeps its literal intact. A 3-arg `strpos(s, sub, n)`
  * (occurrence variant — no Spark builtin) routes to the registered
  * `graft_strpos3` expression instead of the 2-arg `instr` rename. */
object Dialect {
  import Text.{masked, matchParen, topLevelArgs}

  private val renames: Seq[(String, String)] = Seq(
    "approx_distinct" -> "approx_count_distinct",
    "arbitrary" -> "any_value",
    "strpos" -> "instr",
    "json_extract_scalar" -> "get_json_object",
    "codepoint" -> "ascii",
    // reference array surface: all_match/any_match are Spark's
    // forall/exists; reduce is aggregate; repeat builds an array (string
    // repetition is concat-based in the reference); contains is array
    // membership (string containment is strpos > 0 there)
    "fail" -> "raise_error",
    "is_nan" -> "isnan",
    "starts_with" -> "startswith",
    "ends_with" -> "endswith",
    "jarowinkler_similarity" -> "jaro_winkler_similarity",
    "sketch_theta_estimate" -> "theta_sketch_estimate",
    "sketch_theta" -> "theta_sketch_agg",
    "split_to_map" -> "str_to_map",
    // bitwise_left_shift / bitwise_right_shift[_arithmetic] are REGISTERED
    // functions (GraftFunctions typedShift), not renames: the reference's
    // typed variants mask to the value's width with sign preservation and
    // zero out at shift >= 64 — java/Spark shiftleft wraps the shift
    // instead (BitwiseFunctions.java:preserveSign)
    "to_base64" -> "base64",
    "from_base64" -> "unbase64",
    "to_hex" -> "hex",
    "from_hex" -> "unhex",
    "bitwise_and_agg" -> "bit_and",
    "bitwise_or_agg" -> "bit_or",
    "bitwise_xor_agg" -> "bit_xor",
    "all_match" -> "forall",
    "any_match" -> "exists",
    "reduce" -> "aggregate",
    "repeat" -> "array_repeat",
    "contains" -> "array_contains",
    "from_iso8601_date" -> "to_date",
    "from_iso8601_timestamp" -> "to_timestamp",
    "format" -> "format_string",
    "day_of_month" -> "dayofmonth",
    "last_day_of_month" -> "last_day",
    "week" -> "weekofyear",
    "week_of_year" -> "weekofyear",
    "to_unixtime" -> "unix_timestamp",
    "from_unixtime_ms" -> "timestamp_millis",
    // TRY(expr): general error→NULL wrapper (functions/TryExpression.scala);
    // \btry\b does not touch Spark's own try_* family (underscore = word char)
    "try" -> "try_expr",
    // reference date_format takes MySQL %-patterns, Spark's takes Java ones
    "date_format" -> "mysql_date_format",
    // KLL sketch family (reference KllSketchAggregationFunctions /
    // KllSketchFunctions) — our names carry the same arities
    "sketch_kll" -> "kll_sketch_agg",
    "sketch_kll_with_k" -> "kll_sketch_agg",
    "sketch_kll_quantile" -> "kll_quantile",
    "sketch_kll_rank" -> "kll_rank")

  private val strposCall = "(?i)\\bstrpos\\s*\\(".r

  /** Route the 3-arg occurrence variant to the registered
    * `graft_strpos3` (reference StringFunctions.java stringPosition with
    * instance) before the generic strpos→instr rename; 2-arg calls are
    * untouched. Arity is counted on the masked text so commas in string
    * literals don't miscount. */
  private def rewriteStrpos3(original: String): String = {
    val m = masked(original)
    val sb = new StringBuilder
    var last = 0
    strposCall.findAllMatchIn(m).foreach { hit =>
      val close = matchParen(m, hit.end - 1)
      if (topLevelArgs(m, hit.end, close - 1).length >= 3) {
        sb.append(original.substring(last, hit.start))
          .append("graft_strpos3(")
        last = hit.end
      }
    }
    sb.append(original.substring(last)).toString
  }

  /** Reference subscripts are 1-based `expr[i]` (ArraySubscriptOperator;
    * SURVEY §2.5 — Spark's `[]` is 0-based but element_at is 1-based and
    * also covers map keys, matching the reference's subscript on maps).
    * Single-level `ident[expr]` is rewritten; ARRAY[...] literal
    * constructors are left alone. */
  private val subscript =
    "(?i)\\b(?!array\\b)((?:[a-z_][a-z0-9_]*\\.)*[a-z_][a-z0-9_]*)\\s*\\[([^\\[\\]]+)\\]".r

  /** Match subscripts on the masked text (so brackets inside literals are
    * invisible) but splice replacement pieces from the original, keeping
    * literal index expressions like m['k'] intact. */
  private def rewriteSubscripts(original: String): String = {
    val m = masked(original)
    val sb = new StringBuilder
    var last = 0
    for (mt <- subscript.findAllMatchIn(m)) {
      sb.append(original.substring(last, mt.start))
      sb.append("strict_subscript(")
        .append(original.substring(mt.start(1), mt.end(1)))
        .append(", ")
        .append(original.substring(mt.start(2), mt.end(2)))
        .append(")")
      last = mt.end
    }
    sb.append(original.substring(last))
    sb.toString
  }

  /** Reference char(n) semantics (COMMON/type/CharType.java): a char value
    * IS space-padded to its declared length — length() returns n and a
    * char never equals the unpadded varchar. Spark's CAST AS CHAR(n)
    * keeps the string unpadded, so the dialect rewrites
    * CAST(x AS CHAR(n)) → rpad(CAST(x AS STRING), n, ' '). Known
    * deviation: comparing chars of two DIFFERENT declared lengths is
    * false here (the reference pads both to the longer length first). */
  private val charCastTail = "(?is)\\sAS\\s+CHAR\\s*\\(\\s*(\\d+)\\s*\\)\\s*\\z".r

  private def rewriteCharCast(original: String): String =
    Text.rewriteCasts(original, charCastTail)((expr, group) =>
      s"rpad(CAST($expr AS STRING), ${group(1)}, ' ')")

  /** Reference DECIMAL 'n.n' typed literals (SqlBase.g4 typeConstructor,
    * e.g. `DECIMAL '1.2'` in the benchto TPC-DS texts) → Spark's
    * BD-suffixed exact decimal literal. Runs pre-segmentation because the
    * quoted number is lexically a string literal. */
  private def rewriteDecimalLiteral(original: String): String =
    original.replaceAll("(?i)\\bdecimal\\s+'(-?[0-9]+(?:\\.[0-9]+)?)'", "$1BD")

  /** ANSI double-quoted identifiers (`"table"."column"` — every reference
    * text, SqlBase.g4 quotedIdentifier) → Spark backticks. Spark's
    * doubleQuotedIdentifiers conf covers reference positions but not
    * aliases (`expr "alias"`), so the dialect rewrites the quote character
    * itself. Double quotes inside single-quoted strings are data and are
    * left alone; the reference dialect has no double-quoted strings. */
  private def rewriteAnsiQuotes(original: String): String =
    Text.segments(original).map { case (seg, isCode) =>
      if (!isCode && seg.charAt(0) == '"') seg.replace('"', '`') else seg
    }.mkString

  /** `TIME '<time> <zone>'` literals (per-value zone — the reference's
    * TIME WITH TIME ZONE literal form, SqlBase.g4 + SqlTimeWithTimeZone)
    * → the graft_timetz constructor. Zoneless TIME literals stay Spark
    * TIME literals. Runs on the original text like the DECIMAL-literal
    * rewrite: the zone lives inside the quotes, which masked() blanks. */
  private val timeTzLit =
    ("(?i)\\bTIME\\s+'(\\d{1,2}:\\d{2}(?::\\d{2}(?:\\.\\d+)?)?" +
      "(?:\\s+[^']+|[+-]\\d{1,2}:?\\d{2}))'").r

  private def rewriteTimeTzLiteral(original: String): String =
    timeTzLit.replaceAllIn(original, m =>
      scala.util.matching.Regex.quoteReplacement(
        s"graft_timetz('${m.group(1)}')"))

  /** `TIMESTAMP '<datetime> <zone>'` literals (per-value zone — the
    * reference's TIMESTAMP WITH TIME ZONE literal form) → graft_tstz.
    * Zoneless TIMESTAMP literals stay Spark literals. */
  private val tsTzLit =
    ("(?i)\\bTIMESTAMP\\s+'(\\d{4}-\\d{2}-\\d{2}[ T]\\d{1,2}:\\d{2}" +
      "(?::\\d{2}(?:\\.\\d+)?)?" +
      "(?:\\s+[A-Za-z_][^']*|\\s*[+-]\\d{1,2}:?\\d{2}))'").r

  private def rewriteTsTzLiteral(original: String): String =
    tsTzLit.replaceAllIn(original, m =>
      scala.util.matching.Regex.quoteReplacement(
        s"graft_tstz('${m.group(1)}')"))

  private val timeTzCastTail =
    "(?is)\\sAS\\s+TIME\\s+WITH\\s+TIME\\s+ZONE\\s*\\z".r

  private val tsTzCastTail =
    "(?is)\\sAS\\s+TIMESTAMP\\s+WITH\\s+TIME\\s+ZONE\\s*\\z".r

  /** `CAST(x AS TIMESTAMP WITH TIME ZONE)` → graft_to_tstz(x). */
  private def rewriteTsTzCast(original: String): String =
    Text.rewriteCasts(original, tsTzCastTail)((expr, _) =>
      s"graft_to_tstz($expr)")

  /** `CAST(x AS TIME WITH TIME ZONE)` → graft_to_timetz(x) (type-dispatch
    * happens in the builder on the resolved argument type). */
  private def rewriteTimeTzCast(original: String): String =
    Text.rewriteCasts(original, timeTzCastTail)((expr, _) =>
      s"graft_to_timetz($expr)")

  private val unnestRel =
    "(?i)(,|\\bCROSS\\s+JOIN|\\bFROM)\\s*UNNEST\\s*(?=\\()".r
  private val unnestTail =
    "(?i)^\\s*(WITH\\s+ORDINALITY\\s+)?AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*\\(([^)]*)\\)".r

  /** Reference-grammar UNNEST as a relation (SqlBase.g4:355-361):
    * `CROSS JOIN UNNEST(a[, b…]) [WITH ORDINALITY] AS t(c…)` → a Spark
    * LATERAL subquery over the explode/posexplode TVF. Ordinality is
    * 1-based BIGINT like the reference; multi-array zip pads the shorter
    * arrays with NULL (try_element_at over 1..greatest(sizes)); a single
    * argument aliased to two columns without ordinality is the map form
    * (key, value). The rewrite is purely textual on code spans — the
    * LATERAL subquery correlates to preceding FROM relations exactly like
    * the reference's UNNEST sees them.
    *
    * `structRows` resolves the textually-ambiguous 1-argument 2-column
    * case: false → map (key, value); true → array<row<a,b>> positional
    * struct expansion. The type isn't knowable from text alone, so
    * `SqlSession.sql` tries the map translation first and retries with
    * structRows=true on analysis failure. 1 argument with 3+ columns can
    * only be the struct form and takes it directly. */
  private def rewriteUnnest(original: String, structRows: Boolean = false): String = {
    val m = masked(original)
    val hit = unnestRel.findFirstMatchIn(m) match {
      case None => return original
      case Some(h) => h
    }
    val argsOpen = hit.end
    val argsEnd = matchParen(m, argsOpen)
    val args = topLevelArgs(m, argsOpen + 1, argsEnd - 1)
      .map { case (a, b) => original.substring(a, b).trim }
      .filter(_.nonEmpty)
    val tail = unnestTail.findFirstMatchIn(m.substring(argsEnd)) match {
      case Some(t) => t
      case None => throw new UnsupportedOperationException(
        "UNNEST as a relation requires an AS t(col, …) alias")
    }
    val hasOrd = tail.group(1) != null
    val alias = tail.group(2)
    val cols = tail.group(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val dataCols = if (hasOrd) cols.dropRight(1) else cols
    val ordSel = if (hasOrd) Seq(s"CAST(pos + 1 AS BIGINT) AS ${cols.last}")
      else Seq.empty
    val (inner, aliasSuffix) =
      if (args.length == 1 && dataCols.length == 2 && !structRows) // map form
        ((Seq(s"key AS ${dataCols(0)}", s"value AS ${dataCols(1)}") ++ ordSel)
          .mkString("SELECT ", ", ", s" FROM posexplode(${args.head})"),
          s" AS $alias")
      else if (args.length == 1 && dataCols.length == 1)
        ((Seq(s"col AS ${dataCols.head}") ++ ordSel)
          .mkString("SELECT ", ", ", s" FROM posexplode(${args.head})"),
          s" AS $alias")
      else if (args.length == 1 && dataCols.length >= 2) {
        // UNNEST(array<row<…>>) AS t(a, b): expand the struct's fields
        // positionally; the subquery column-list alias renames whatever
        // the struct's field names happen to be
        val ordTail = if (hasOrd) Seq("CAST(pos + 1 AS BIGINT)") else Nil
        ((Seq("col.*") ++ ordTail)
          .mkString("SELECT ", ", ", s" FROM posexplode(${args.head})"),
          s" AS $alias(${cols.mkString(", ")})")
      } else if (args.length == dataCols.length) {
        val g = args.map(a => s"size($a)").mkString("greatest(", ", ", ")")
        val sel = args.zip(dataCols).map { case (a, c) =>
          s"try_element_at($a, idx) AS $c"
        } ++ (if (hasOrd) Seq(s"CAST(idx AS BIGINT) AS ${cols.last}") else Nil)
        (sel.mkString("SELECT ", ", ",
          s" FROM (SELECT explode(slice(sequence(0, $g), 2, $g)) AS idx)"),
          s" AS $alias")
      } else throw new UnsupportedOperationException(
        s"UNNEST arity mismatch: ${args.length} arguments vs " +
          s"${dataCols.length} data columns")
    // posexplode's `pos` serves the ordinality column in the 1-arg forms;
    // a standalone FROM UNNEST keeps FROM, a joined one becomes LATERAL
    val connector =
      if (hit.group(1).equalsIgnoreCase("from")) "FROM (" else ", LATERAL ("
    val rewritten = original.substring(0, hit.start(1)) + connector +
      inner + ")" + aliasSuffix +
      original.substring(argsEnd + tail.end)
    rewriteUnnest(rewritten, structRows) // handle multiple UNNESTs in one statement
  }

  private val tableSample =
    "(?i)\\bTABLESAMPLE\\s+(?:BERNOULLI|SYSTEM)\\s*(?=\\()".r

  /** `TABLESAMPLE BERNOULLI(p) | SYSTEM(p)` (SqlBase.g4:355-361) →
    * Spark `TABLESAMPLE (p PERCENT)` (row-Bernoulli; SYSTEM's
    * block-sampling is approximated the same way — both are
    * engine-defined samples). */
  private def rewriteTableSample(original: String): String = {
    val m = masked(original)
    val sb = new StringBuilder
    var last = 0
    for (hit <- tableSample.findAllMatchIn(m)) {
      val end = matchParen(m, hit.end)
      sb.append(original.substring(last, hit.start))
      sb.append("TABLESAMPLE (")
        .append(original.substring(hit.end + 1, end - 1).trim)
        .append(" PERCENT)")
      last = end
    }
    sb.append(original.substring(last))
    sb.toString
  }

  private val groupsBetweenRe = "(?i)\\bGROUPS\\s+BETWEEN\\b".r
  private val overOpenRe = "(?i)\\bOVER\\s*\\(".r
  private val partitionByRe = "(?i)\\bPARTITION\\s+BY\\s+".r
  private val orderByRe = "(?i)\\bORDER\\s+BY\\s+".r
  private val simpleFromRe = "(?i)\\bFROM\\s+([A-Za-z_][A-Za-z0-9_.]*)".r

  /** Reference-grammar GROUPS frames as SQL text (SqlBase.g4:583-592).
    * Spark's parser has no GROUPS token, so the dialect restructures: the
    * query's FROM relation is wrapped in a subquery that adds
    * `dense_rank() OVER (same partition/order) AS __graft_grp`, and the
    * GROUPS window becomes `ORDER BY __graft_grp RANGE <frame>` — peer
    * groups collapse to consecutive integers, so counting groups IS a
    * range over dense ranks (the same rewrite Windows.groupsFrame uses in
    * the DataFrame API). Supported shape: one GROUPS window over a plain
    * FROM <table> query; anything fancier raises a clear unsupported
    * error instead of a silent misparse. */
  private def rewriteGroupsFrame(original: String): String = {
    val m = masked(original)
    if (groupsBetweenRe.findFirstIn(m).isEmpty) return original
    val spans = overOpenRe.findAllMatchIn(m).toSeq.map { h =>
      val open = h.end - 1
      (h.start, open, matchParen(m, open))
    }
    val gSpans = spans.filter { case (_, open, close) =>
      groupsBetweenRe.findFirstIn(m.substring(open, close)).isDefined
    }
    if (gSpans.isEmpty) return original
    if (gSpans.size > 1) throw new UnsupportedOperationException(
      "GROUPS frames: only one GROUPS window per query is supported by the dialect")
    val (ovStart, open, close) = gSpans.head
    val insideM = m.substring(open + 1, close - 1)
    val insideO = original.substring(open + 1, close - 1)
    val pMatch = partitionByRe.findFirstMatchIn(insideM)
    val oMatch = orderByRe.findFirstMatchIn(insideM) match {
      case Some(x) => x
      case None => throw new UnsupportedOperationException(
        "GROUPS frame requires ORDER BY in the window specification")
    }
    val gMatch = groupsBetweenRe.findFirstMatchIn(insideM).get
    val partExpr = pMatch.map(p =>
      insideO.substring(p.end, oMatch.start).trim)
    val orderExpr = insideO.substring(oMatch.end, gMatch.start).trim
    val frameSpec = insideO.substring(gMatch.start + "GROUPS".length).trim
    // the first depth-0 FROM with a plain relation name is the query source
    val depth = new Array[Int](m.length + 1)
    var d = 0
    var i = 0
    while (i < m.length) {
      if (m.charAt(i) == '(') d += 1 else if (m.charAt(i) == ')') d -= 1
      i += 1
      depth(i) = d
    }
    val from = simpleFromRe.findAllMatchIn(m)
      .find(f => depth(f.start) == 0)
      .getOrElse(throw new UnsupportedOperationException(
        "GROUPS frames need a plain FROM <table> source for the dialect rewrite"))
    val table = original.substring(from.start(1), from.end(1))
    // Window frames evaluate AFTER row filtering, so a WHERE left in the
    // outer query would punch gaps in __graft_grp and silently change the
    // frame (r5 driver advice). A depth-0 WHERE therefore moves INTO the
    // dense_rank subquery; anything else after FROM <table> (joins,
    // aliases, GROUP BY/HAVING) raises the documented unsupported error.
    val afterFrom =
      "(?i)\\s*(WHERE\\b|ORDER\\s+BY\\b|LIMIT\\b|$)".r
        .findPrefixMatchOf(m.subSequence(from.end, m.length))
    val (fromSpanEnd, innerWhere) = afterFrom.map(_.group(1).toUpperCase) match {
      case Some("WHERE") =>
        val stop = "(?i)\\b(ORDER\\s+BY|LIMIT)\\b".r.findAllMatchIn(m)
          .find(x => x.start >= from.end && depth(x.start) == 0)
          .map(_.start).getOrElse(m.length)
        (stop, " " + original.substring(from.end, stop).trim)
      case Some(_) => (from.end, "")
      case None => throw new UnsupportedOperationException(
        "GROUPS frames: only WHERE/ORDER BY/LIMIT may follow the plain " +
          "FROM <table> source in the dialect rewrite")
    }
    val innerPart = partExpr.map(p => s"PARTITION BY $p ").getOrElse("")
    val innerFrom = s"FROM (SELECT *, dense_rank() OVER ($innerPart" +
      s"ORDER BY $orderExpr) AS __graft_grp FROM $table$innerWhere) " +
      "__graft_groups_src " // trailing space: a moved WHERE makes the span end exactly where ORDER BY/LIMIT begins
    val newOver = s"OVER (${partExpr.map(p => s"PARTITION BY $p ").getOrElse("")}" +
      s"ORDER BY __graft_grp RANGE $frameSpec)"
    // splice right-to-left so earlier indices stay valid
    val (aStart, aEnd, aText, bStart, bEnd, bText) =
      if (ovStart > from.start) (from.start, fromSpanEnd, innerFrom, ovStart, close, newOver)
      else (ovStart, close, newOver, from.start, fromSpanEnd, innerFrom)
    original.substring(0, aStart) + aText +
      original.substring(aEnd, bStart) + bText + original.substring(bEnd)
  }

  private val quantifiedRe =
    "(?i)(<=|>=|<>|!=|=|<|>)\\s*(ALL|ANY|SOME)\\s*\\(".r

  /** Quantified comparison subqueries — `expr op ALL|ANY|SOME (query)`
    * (reference SqlBase.g4 `comparisonQuantifier`, planned by
    * TransformQuantifiedComparisonApplyToLateralJoin.java into the
    * count/min/max CASE). Spark's parser has no quantified comparisons,
    * so the dialect applies the reference's own lowering textually:
    *
    *  - `= ANY` is IN, `<> ALL` is NOT IN (exact delegations);
    *  - ordered ops lower to a three-valued CASE over four aggregate
    *    scalar subqueries (count(*), count(v), min(v), max(v)): e.g.
    *    `c > ALL(q)` is TRUE on empty q, NULL when c is NULL, FALSE when
    *    a non-null element ≥ c exists (c <= max), TRUE when all elements
    *    are non-null and c > max, else NULL — ANSI 3VL exactly;
    *  - `= ALL` / `<> ANY` use the min=max collapse the same way.
    *
    * Catalyst de-duplicates the repeated aggregate subqueries
    * (MergeScalarSubqueries), so the plan carries ONE aggregation over q,
    * decorrelated into a join when q is correlated — the same scale shape
    * as the reference's lateral rewrite. The quantifier must open on a
    * subquery (SELECT/WITH/VALUES/TABLE) — `x = any(bools)`, Spark's
    * aggregate, stays untouched. The left operand may be an identifier
    * chain, a literal number, or a parenthesized/function expression. */
  private def rewriteQuantified(original: String, depth: Int = 0): String = {
    if (depth > 8) return original
    val m = masked(original)
    val hit = quantifiedRe.findAllMatchIn(m).find { h =>
      val inner = m.substring(h.end, matchParen(m, h.end - 1) - 1)
      "(?is)^\\s*(SELECT|WITH|VALUES|TABLE)\\b".r
        .findFirstIn(inner).isDefined
    } match {
      case None => return original
      case Some(h) => h
    }
    val op = hit.group(1)
    val quant = hit.group(2).toUpperCase match {
      case "SOME" => "ANY"
      case q => q
    }
    val subEnd = matchParen(m, hit.end - 1)
    val q = original.substring(hit.end, subEnd - 1)
    val lStart = leftOperandStart(m, hit.start)
    if (lStart >= hit.start) throw new UnsupportedOperationException(
      "quantified comparison: unsupported left-operand shape before " +
        s"'$op ${hit.group(2)} (...)'")
    val c = original.substring(lStart, hit.start).trim
    def agg(f: String) = s"(SELECT $f FROM ($q) AS __gq(__gqv))"
    val cnt = agg("count(*)")
    val cntN = agg("count(__gqv)")
    val mn = agg("min(__gqv)")
    val mx = agg("max(__gqv)")
    val nul = "CAST(NULL AS BOOLEAN)"
    val repl = (op, quant) match {
      case ("=", "ANY") => s"(($c) IN ($q))"
      case ("<>" | "!=", "ALL") => s"(($c) NOT IN ($q))"
      case ("=", "ALL") =>
        s"(CASE WHEN $cnt = 0 THEN true WHEN ($c) IS NULL THEN $nul " +
          s"WHEN $cntN > 0 AND (($c) <> $mn OR ($c) <> $mx) THEN false " +
          s"WHEN $cntN = $cnt THEN true ELSE $nul END)"
      case ("<>" | "!=", "ANY") =>
        s"(CASE WHEN $cnt = 0 THEN false WHEN ($c) IS NULL THEN $nul " +
          s"WHEN $cntN > 0 AND (($c) <> $mn OR ($c) <> $mx) THEN true " +
          s"WHEN $cntN = $cnt THEN false ELSE $nul END)"
      case (o, "ALL") =>
        // witness element: the hardest to satisfy — max for >/>=, min for </<=
        val ext = if (o == ">" || o == ">=") mx else mn
        s"(CASE WHEN $cnt = 0 THEN true WHEN ($c) IS NULL THEN $nul " +
          s"WHEN $cntN > 0 AND NOT (($c) $o $ext) THEN false " +
          s"WHEN $cntN = $cnt THEN true ELSE $nul END)"
      case (o, _) => // ANY
        val ext = if (o == ">" || o == ">=") mn else mx
        s"(CASE WHEN $cnt = 0 THEN false WHEN ($c) IS NULL THEN $nul " +
          s"WHEN $cntN > 0 AND (($c) $o $ext) THEN true " +
          s"WHEN $cntN = $cnt THEN false ELSE $nul END)"
    }
    rewriteQuantified(
      original.substring(0, lStart) + repl + original.substring(subEnd),
      depth + 1)
  }

  /** Start index of the left operand ending just before `before` on the
    * masked text: a parenthesized group (with an optional attached
    * function name), or an identifier/number/qualified chain. Returns
    * `before` when the shape is unsupported. */
  private def leftOperandStart(m: String, before: Int): Int = {
    var i = before - 1
    while (i >= 0 && m.charAt(i).isWhitespace) i -= 1
    if (i < 0) return before
    def identChar(ch: Char) =
      ch.isLetterOrDigit || ch == '_' || ch == '.' || ch == '`'
    if (m.charAt(i) == ')') {
      var depth = 0
      var done = false
      while (i >= 0 && !done) {
        m.charAt(i) match {
          case ')' => depth += 1
          case '(' => depth -= 1; if (depth == 0) done = true
          case _ =>
        }
        if (!done) i -= 1
      }
      if (!done) return before
      i -= 1
      while (i >= 0 && identChar(m.charAt(i))) i -= 1
      i + 1
    } else if (identChar(m.charAt(i))) {
      while (i >= 0 && identChar(m.charAt(i))) i -= 1
      i + 1
    } else before
  }

  // Presto spells interval-arithmetic units as string literals
  // (date_add('day', n, ts) — DateTimeFunctions.java); Spark's parser form
  // wants bare identifiers (dateadd(DAY, n, ts)). Unquote in place.
  private val unitCall =
    "(?i)\\b(date_add|dateadd|date_diff|datediff|timestampadd|timestampdiff)\\s*\\(\\s*'([a-z]+)'\\s*,".r

  private def rewriteUnitCalls(original: String): String =
    unitCall.replaceAllIn(original, m => s"${m.group(1)}(${m.group(2)},")

  private val timeWithTz = "(?i)\\bTIME\\s+WITH\\s+TIME\\s+ZONE\\b".r
  private val tsWithTz = "(?i)\\bTIMESTAMP\\s+WITH\\s+TIME\\s+ZONE\\b".r

  private val excludeColumnsRe =
    ("(?i)\\bexclude_columns\\s*\\(\\s*(?:input\\s*=>\\s*)?TABLE\\s*\\(\\s*" +
      "([A-Za-z_][A-Za-z0-9_.]*)\\s*\\)\\s*,\\s*(?:columns\\s*=>\\s*)?" +
      "DESCRIPTOR\\s*\\(([^)]*)\\)\\s*\\)").r

  /** The reference's built-in exclude_columns table function
    * (operator/table/ExcludeColumns.java:66):
    * `exclude_columns([input =>] TABLE(t), [columns =>] DESCRIPTOR(a, b))`
    * → Spark's star-except subquery `(SELECT * EXCEPT (a, b) FROM t)`.
    * Pure pass-through projection, so the rewrite is exact. */
  private def rewriteExcludeColumns(original: String): String = {
    val m = masked(original)
    val sb = new StringBuilder
    var last = 0
    for (hit <- excludeColumnsRe.findAllMatchIn(m)) {
      sb.append(original.substring(last, hit.start))
      val table = original.substring(hit.start(1), hit.end(1))
      val cols = original.substring(hit.start(2), hit.end(2)).trim
      sb.append(s"(SELECT * EXCEPT ($cols) FROM $table)")
      last = hit.end
    }
    sb.append(original.substring(last))
    sb.toString
  }

  def translate(text: String, unnestStructRows: Boolean = false): String = {
    // time with time zone (per-value zones, TimeTzFunctions): zone-carrying
    // TIME literals and CASTs desugar to the struct-tagged kernels first;
    // any OTHER position of the type name (DDL column types) still raises
    // a clear error rather than Spark's parse failure.
    val base = rewriteTsTzCast(rewriteTimeTzCast(rewriteTsTzLiteral(
      rewriteTimeTzLiteral(rewriteAnsiQuotes(text)))))
    val baseMasked = masked(base)
    if (timeWithTz.findFirstIn(baseMasked).isDefined)
      throw new UnsupportedOperationException(
        "time with time zone is supported as a literal (TIME 'hh:mm:ss " +
          "<zone>'), in CAST, and through its functions (hour/minute/" +
          "second/timezone_hour/timezone_minute/at_timezone); it is not " +
          "supported as a DDL column type")
    if (tsWithTz.findFirstIn(baseMasked).isDefined)
      throw new UnsupportedOperationException(
        "timestamp with time zone is supported as a literal (TIMESTAMP " +
          "'yyyy-MM-dd hh:mm:ss <zone>'), in CAST, and through its " +
          "functions (year/quarter/month/day/hour/minute/second/" +
          "millisecond/timezone_hour/timezone_minute/at_timezone/" +
          "graft_tstz_format); it is not supported as a DDL column type")
    Text.mapCode(rewriteTableSample(rewriteUnnest(rewriteSubscripts(
      rewriteExcludeColumns(rewriteGroupsFrame(rewriteUnitCalls(
        rewriteCharCast(rewriteStrpos3(rewriteQuantified(
          rewriteDecimalLiteral(base)))))))),
      unnestStructRows))) { seg =>
      val renamed = renames.foldLeft(seg) { case (t, (from, to)) =>
        t.replaceAll(s"(?i)\\b$from\\s*\\(", s"$to(")
      }
      // reference bare niladic spellings Spark only accepts with parens
      // (SqlBase.g4 specialDateTimeFunction: LOCALTIMESTAMP / LOCALTIME)
      renamed
        // reference's unbounded VARCHAR type name (StandardTypes.java:31)
        // — Spark's varchar demands a length; STRING is the same type
        .replaceAll("(?i)\\bvarchar\\b(?!\\s*\\()", "string")
        .replaceAll("(?i)\\blocaltimestamp\\b(?!\\s*\\()", "localtimestamp()")
        // reference CURRENT_TIME (niladic, returns time with time zone)
        .replaceAll("(?i)\\bcurrent_time\\b(?!\\s*\\()", "current_time()")
        .replaceAll("(?i)\\blocaltime\\b(?!\\s*\\()",
          "make_time(hour(localtimestamp()), minute(localtimestamp()), " +
            "CAST(extract(SECOND FROM localtimestamp()) AS DOUBLE))")
    }
  }
}
