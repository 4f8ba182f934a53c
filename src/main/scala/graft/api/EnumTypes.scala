package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.EnumRuntime

/** Enum + distinct types through the dialect (reference
  * CreateTypeTask.java + common/type/BigintEnumType / VarcharEnumType /
  * TypeSignature.parseEnumMap):
  *
  *   CREATE TYPE mood AS BigintEnum(mood{"HAPPY":0, "SAD":1})
  *   CREATE TYPE name AS VarcharEnum(name{"A":"ann", "B":"bob"})
  *   CREATE TYPE ssn  AS VARCHAR            -- distinct type (alias)
  *   DROP TYPE [IF EXISTS] mood
  *
  * Spark has no user-defined SQL types, so enum VALUES stay base-typed
  * (bigint / varchar); what the reference resolves from the static type
  * at analysis time, this module resolves at REWRITE time: `CAST(x AS
  * mood)` (and the inline `CAST(x AS BigintEnum(...))` signature
  * spelling) splices a membership-validated cast, `enum_key('mood', x)`
  * splices the reverse lookup (the type-name argument replaces the
  * reference's static-type dispatch — the documented deviation), and
  * distinct-type names rewrite to their base type. The registry is a
  * SessionScope catalog slot like the rest of the DDL surface.
  */
object EnumTypes {

  private sealed trait TypeEntry
  private final case class EnumEntry(b64: String) extends TypeEntry
  private final case class DistinctEntry(baseType: String) extends TypeEntry

  /** Lowercase type name → definition. */
  private val types = SessionScope.catalog(Map.empty[String, TypeEntry])

  private val CreateType =
    """(?is)\ACREATE\s+TYPE\s+([\w.]+)\s+AS\s+(.+?)\s*;?\s*\z""".r
  private val DropType =
    """(?is)\ADROP\s+TYPE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*\z""".r
  private val EnumSig = """(?is)\A(bigint|varchar)enum\s*\(.*\)\z""".r

  /** Parse `BigintEnum(tn{"K":1,…})` / `VarcharEnum(tn{"K":"v",…})` into
    * (typeName, isBigint, entries) — the TypeSignature.parseEnumMap state
    * machine, `""` escapes included. */
  private[api] def parseEnumSignature(sig0: String)
      : (String, Boolean, Seq[(String, String)]) = {
    val sig = sig0.trim
    val lower = sig.toLowerCase
    val isBigint = lower.startsWith("bigintenum")
    require(isBigint || lower.startsWith("varcharenum"),
      s"not an enum signature: $sig0")
    val open = sig.indexOf('(')
    val brace = sig.indexOf('{', open)
    require(open >= 0 && brace > open, s"malformed enum signature: $sig0")
    val typeName = sig.substring(open + 1, brace).trim
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = brace + 1
    var state = 0 // 0 expect-key, 1 in-key, 2 expect-colon, 3 expect-value,
                  // 4 in-str-value, 5 in-num-value, 6 expect-comma-or-end
    val cur = new StringBuilder
    var pendingKey: String = null
    var done = false
    while (i < sig.length && !done) {
      val c = sig.charAt(i)
      state match {
        case 0 =>
          if (c == '"') state = 1
          else require(c.isWhitespace, s"expected key at '$c' in $sig0")
        case 1 =>
          if (c == '"') {
            if (i + 1 < sig.length && sig.charAt(i + 1) == '"') {
              cur.append('"'); i += 1
            } else { pendingKey = cur.toString; cur.clear(); state = 2 }
          } else cur.append(c)
        case 2 =>
          if (c == ':') state = 3
          else require(c.isWhitespace, s"expected ':' at '$c' in $sig0")
        case 3 =>
          if (c == '"') {
            require(!isBigint, "Unexpected varchar value in numeric enum signature")
            state = 4
          } else if (c.isDigit || c == '-') {
            require(isBigint, "Unexpected numeric value in varchar enum signature")
            cur.append(c); state = 5
          } else require(c.isWhitespace, s"expected value at '$c' in $sig0")
        case 4 =>
          if (c == '"') {
            if (i + 1 < sig.length && sig.charAt(i + 1) == '"') {
              cur.append('"'); i += 1
            } else {
              entries += ((pendingKey, cur.toString)); cur.clear(); state = 6
            }
          } else cur.append(c)
        case 5 =>
          if (c.isDigit) cur.append(c)
          else if (c == ',' || c == '}') {
            entries += ((pendingKey, cur.toString)); cur.clear()
            if (c == '}') done = true else state = 0
          } else require(c.isWhitespace, s"expected digit at '$c' in $sig0")
        case 6 =>
          if (c == ',') state = 0
          else if (c == '}') done = true
          else require(c.isWhitespace, s"expected ',' or '}' at '$c' in $sig0")
      }
      i += 1
    }
    require(done, s"unterminated enum map in $sig0")
    require(entries.nonEmpty, s"empty enum map in $sig0")
    val keys = entries.map(_._1)
    require(keys.distinct.size == keys.size, s"duplicate enum key in $sig0")
    (typeName, isBigint, entries.toSeq)
  }

  /** CREATE TYPE / DROP TYPE (CreateTypeTask.java — the enum + distinct
    * legs; the row-type leg is the reference's structured UDT, covered by
    * Spark's native struct types). */
  def dispatch(ses: SqlSession, text: String): Option[DataFrame] = {
    val spark = ses.spark
    text.trim match {
      case CreateType(name, definition) =>
        val entry = definition.trim match {
          case sig @ EnumSig(_) =>
            val (_, isBigint, entries) = parseEnumSignature(sig)
            EnumEntry(EnumRuntime.encode(
              name.toLowerCase, isBigint, entries))
          case base =>
            require(!base.contains("("),
              s"CREATE TYPE AS $base: only enum signatures, scalar base " +
                "types (distinct types) are supported")
            DistinctEntry(base)
        }
        SessionScope.update(spark, types)(_ + (name.toLowerCase -> entry))
        Some(DdlStatements.statusResult(spark, s"CREATE TYPE $name"))
      case DropType(ifExists, name) =>
        SessionScope.update(spark, types) { ts =>
          if (!ts.contains(name.toLowerCase) && ifExists == null)
            throw new IllegalArgumentException(s"Type not found: $name")
          ts - name.toLowerCase
        }
        Some(DdlStatements.statusResult(spark, s"DROP TYPE $name"))
      case _ => None
    }
  }

  // call heads are matched on the masked text (an enum_key( inside a
  // string literal or comment is left alone); the name literal is blanked
  // by the mask, so it is re-read from the original at the same offsets
  private val enumKeyOpen = """(?i)\benum_key\s*\(""".r
  private val enumKeyName = """\s*'([^']+)'\s*,""".r
  private val inlineSig = "(?i)(bigint|varchar)enum\\s*\\(".r
  private val inlineCastTail = """(?is)\sAS\s+((bigint|varchar)enum\s*\(.*)\z""".r

  /** Splice enum semantics into a statement: inline-signature casts,
    * registered-name casts, enum_key name resolution, distinct-type
    * aliases. No-op for sessions with no registered types and no inline
    * signatures (one cheap regex test). Each cast kind goes through the
    * shared CAST rewrite, which raises past its cap instead of leaving
    * later casts unrewritten (they would fail analysis confusingly). */
  def rewrite(spark: SparkSession, original: String): String = {
    val session = SessionScope.get(spark, types)
    if (session.isEmpty &&
      inlineSig.findFirstIn(Text.masked(original)).isEmpty)
      return original
    // 1. inline signature casts: CAST(x AS BigintEnum(tn{...}))
    val inlined = Text.rewriteCasts(original, inlineCastTail) { (expr, group) =>
      val (tn, isBigint, entries) = parseEnumSignature(group(1))
      val b64 = EnumRuntime.encode(tn.toLowerCase, isBigint, entries)
      s"graft_enum_cast('$b64', $expr)"
    }
    // 2. enum_key('name', x) → graft_enum_key('<def>', x)
    val keyed = Text.rewriteCalls(inlined, enumKeyOpen, enumKeyName) {
      (_, nm) =>
        session.get(nm.group(1).toLowerCase) match {
          case Some(EnumEntry(b64)) => s"graft_enum_key('$b64',"
          case _ => throw new IllegalArgumentException(
            s"enum_key: unknown enum type '${nm.group(1)}'")
        }
    }
    // 3. registered-name casts + distinct aliases
    session.foldLeft(keyed) { case (cur, (name, entry)) =>
      val tail = s"""(?is)\\sAS\\s+${java.util.regex.Pattern.quote(name)}\\s*\\z""".r
      Text.rewriteCasts(cur, tail) { (expr, _) =>
        entry match {
          case EnumEntry(b64) => s"graft_enum_cast('$b64', $expr)"
          case DistinctEntry(base) => s"CAST($expr AS $base)"
        }
      }
    }
  }
}
