package graft.api

import org.apache.spark.sql.SparkSession

/** SQL-invoked function DDL — the reference's CREATE FUNCTION surface
  * (presto-docs sql/create-function; grammar in
  * presto-parser/src/main/antlr4/com/facebook/presto/sql/parser/SqlBase.g4
  * `createFunction`), with the reference's execution strategy: SQL-bodied
  * functions are INLINED into the calling query at plan time
  * (presto-main-base/.../sql/planner/iterative/rule/InlineSqlFunctions.java
  * rewrites each call to the bound body), so the inlined expression
  * optimizes and code-generates with the rest of the query — zero
  * call-site overhead at any scale.
  *
  * Spark-first mapping: we inline at translate time (textual macro
  * substitution over code regions only — never inside string literals or
  * comments), substituting `(arg)` for each parameter with word-boundary
  * matching and wrapping the body in `CAST((body) AS returnType)` so the
  * declared return type is honored exactly as the reference's
  * SqlInvokedFunction return-type coercion does. Nested references
  * (functions calling functions) resolve by iterating to a fixpoint with
  * a recursion bound.
  *
  * Supported grammar (v1, matching the reference's SQL-language routines):
  *   CREATE [OR REPLACE] [TEMPORARY] FUNCTION name(p type, ...)
  *     RETURNS type
  *     [COMMENT '...'] [LANGUAGE SQL] [[NOT] DETERMINISTIC]
  *     [RETURNS NULL ON NULL INPUT | CALLED ON NULL INPUT]
  *     RETURN expression
  *   DROP FUNCTION [IF EXISTS] name
  * External (non-SQL) routines raise — the reference routes those to a
  * remote function server, declared out of scope in SURVEY §2.
  */
object SqlFunctions {

  final case class SqlFunctionDef(
      name: String,
      params: Seq[(String, String)], // (name, declared type)
      returns: String,
      body: String)

  /** Lowercase unqualified name → definition. */
  private val registry = SessionScope.catalog(Map.empty[String, SqlFunctionDef])

  private val CreateHead =
    """(?is)\ACREATE\s+(OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?FUNCTION\s+([\w.]+)\s*\(""".r
  private val DropFunction =
    """(?is)\ADROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?([\w.]+)\z""".r

  /** Routine characteristic keywords that may sit between RETURNS type
    * and the RETURN body. */
  private val characteristic =
    """(?is)\A(?:COMMENT\s+'(?:[^']|'')*'|LANGUAGE\s+\w+|NOT\s+DETERMINISTIC|DETERMINISTIC|RETURNS\s+NULL\s+ON\s+NULL\s+INPUT|CALLED\s+ON\s+NULL\s+INPUT)\s+""".r

  /** Try `t` as CREATE/DROP FUNCTION; None → not a function statement. */
  def dispatch(spark: SparkSession, t: String): Option[String] = {
    CreateHead.findPrefixMatchOf(t) match {
      case Some(m) =>
        val orReplace = m.group(1) != null
        val name = m.group(2).split('.').last.toLowerCase
        val open = m.end - 1
        val close = Text.matchParen(Text.masked(t), open)
        val params = parseParams(t.substring(open + 1, close - 1))
        val rest = t.substring(close).trim
        val retM = """(?is)\ARETURNS\s+""".r.findPrefixMatchOf(rest).getOrElse(
          throw new IllegalArgumentException(
            s"CREATE FUNCTION $name: expected RETURNS <type>"))
        val (retType, after) = parseType(rest.substring(retM.end))
        var tail = after.trim
        var done = false
        while (!done) characteristic.findPrefixMatchOf(tail) match {
          case Some(c) => tail = tail.substring(c.end)
          case None => done = true
        }
        val bodyM = """(?is)\ARETURN\s+""".r.findPrefixMatchOf(tail).getOrElse(
          throw new IllegalArgumentException(
            s"CREATE FUNCTION $name: only SQL-bodied routines (RETURN expr) " +
              "are supported; EXTERNAL routines are out of scope"))
        val body = tail.substring(bodyM.end).trim
        SessionScope.update(spark, registry) { fns =>
          if (!orReplace && fns.contains(name))
            throw new IllegalArgumentException(s"Function already exists: $name")
          fns + (name -> SqlFunctionDef(name, params, retType, body))
        }
        Some("CREATE FUNCTION")
      case None => t match {
        case DropFunction(ifExists, rawName) =>
          val name = rawName.split('.').last.toLowerCase
          SessionScope.update(spark, registry) { fns =>
            if (!fns.contains(name) && ifExists == null)
              throw new IllegalArgumentException(s"Function not found: $name")
            fns - name
          }
          Some("DROP FUNCTION")
        case _ => None
      }
    }
  }

  /** Registered names for SHOW FUNCTIONS. */
  def list(spark: SparkSession): Seq[String] =
    SessionScope.get(spark, registry).keys.toSeq.sorted

  /** `p1 type1, p2 type2, …` — types may carry parens (decimal(10,2)). */
  private def parseParams(s: String): Seq[(String, String)] = {
    if (s.trim.isEmpty) Seq.empty
    else Text.splitTop(s).map { p =>
      val sp = p.indexWhere(_.isWhitespace)
      if (sp < 0) throw new IllegalArgumentException(
        s"Malformed parameter declaration: '$p' (expected name type)")
      (p.substring(0, sp).toLowerCase, p.substring(sp).trim)
    }
  }

  /** Consume one SQL type from the head of `s` (word + optional balanced
    * paren suffix, e.g. `decimal(10, 2)`, `array(double)`); returns
    * (type, remainder). */
  private def parseType(s: String): (String, String) = {
    val m = """(?is)\A[\w ]+?(?=\s*(?:\(|$|\s))""".r.findPrefixMatchOf(s)
      .getOrElse(throw new IllegalArgumentException(s"Malformed type: $s"))
    var end = m.end
    val afterWs = s.indexWhere(!_.isWhitespace, end)
    if (afterWs >= 0 && s.charAt(afterWs) == '(')
      end = Text.matchParen(Text.masked(s), afterWs)
    (s.substring(0, end).trim, s.substring(end))
  }

  private val MaxInlineDepth = 16

  /** Inline every registered function call in `text` (fixpoint with a
    * recursion bound, like the reference's cyclic-function detection in
    * SqlFunctionUtils). No registered functions → the text is returned
    * untouched in one registry probe. */
  def inline(spark: SparkSession, text: String): String = {
    val fns = SessionScope.get(spark, registry)
    if (fns.isEmpty) return text
    var t = text
    var depth = 0
    while (depth < MaxInlineDepth) {
      val next = inlineOnce(fns, t)
      if (next == t) return t
      t = next
      depth += 1
    }
    throw new IllegalArgumentException(
      "SQL function inlining exceeded depth " + MaxInlineDepth +
        " — recursive function definitions are not supported")
  }

  private def inlineOnce(fns: Map[String, SqlFunctionDef],
      text: String): String = {
    val m = Text.masked(text)
    // collect call sites across all registered names, replace right-to-left
    val sites = fns.keysIterator
      .flatMap { name =>
        val re = ("(?i)(?<![\\w.])(?:[\\w]+\\.)*" +
          java.util.regex.Pattern.quote(name) + "\\s*\\(").r
        re.findAllMatchIn(m).map(site => (name, site.start, site.end))
      }.toSeq.sortBy(-_._2)
    var out = text
    // a call whose argument list contains another site is deferred to the
    // next fixpoint pass — replacing the inner call shifts outer indices
    val replaced = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for ((name, start, openEnd) <- sites) {
      val defn = fns(name)
      val close = Text.matchParen(m, openEnd - 1)
      if (replaced.exists { case (f, t0) => f < close && start < t0 }) ()
      else {
      replaced += ((start, close))
      val argSpan = out.substring(openEnd, close - 1)
      val args =
        if (argSpan.trim.isEmpty) Seq.empty[String]
        else Text.topLevelArgs(m, openEnd, close - 1)
          .map { case (f, t0) => out.substring(f, t0).trim }
      if (args.length != defn.params.length)
        throw new IllegalArgumentException(
          s"Function ${defn.name} expects ${defn.params.length} arguments, " +
            s"got ${args.length}")
      val substituted = substitute(defn, args)
      out = out.substring(0, start) + substituted + out.substring(close)
      }
    }
    out
  }

  /** Body with each parameter replaced by its (parenthesized) argument,
    * wrapped in a cast to the declared return type. Replacement only
    * touches code regions of the body and is word-bounded, so a parameter
    * named `x` never rewrites `max(` or the literal 'x'. */
  private def substitute(defn: SqlFunctionDef, args: Seq[String]): String = {
    val bodyMask = Text.masked(defn.body)
    var body = defn.body
    // right-to-left across all parameter hits keeps indices stable
    val hits = defn.params.zip(args).flatMap { case ((p, _), a) =>
      ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(p) + "(?![\\w])").r
        .findAllMatchIn(bodyMask).map(h => (h.start, h.end, a))
    }.sortBy(-_._1)
    for ((from, to, arg) <- hits)
      body = body.substring(0, from) + s"($arg)" + body.substring(to)
    s"CAST(($body) AS ${defn.returns})"
  }
}
