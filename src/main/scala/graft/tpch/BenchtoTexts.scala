package graft.tpch

/** The 22 benchto TPC-H reference texts, kept as classpath resources in
  * the kit's own form (`benchto/tpch/qNN.sql`, see the README there) and
  * re-aimed at the fixture domains with the same global substitutions the
  * value-gating spec uses (TpchTextSpec): calendar 1992-1998 → 1995-2001,
  * kit literal domains → fixture NATION_<k>/part-type words. The spec adds
  * per-query substitutions and compares each text against a replica. */
object BenchtoTexts {

  /** Fixture-domain parameter substitutions applied to every text. */
  val params: Seq[(String, String)] = Seq(
    "FRANCE" -> "NATION_19", "GERMANY" -> "NATION_20", "BRAZIL" -> "NATION_19",
    "CANADA" -> "NATION_3", "SAUDI ARABIA" -> "NATION_20",
    "%BRASS" -> "%PROMO", "ECONOMY ANODIZED STEEL" -> "ECONOMY",
    "MEDIUM POLISHED%" -> "MEDIUM%", "%green%" -> "%widget%",
    "forest%" -> "blue%",
    "'1992-" -> "'1995-", "'1993-" -> "'1996-", "'1994-" -> "'1997-")

  /** A kit text read from the classpath (`path` is absolute). */
  def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"benchto text $path is not on the classpath")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** The TPC-H text `q` as the kit writes it (template refs included). */
  def raw(q: String): String = resource(s"/benchto/tpch/$q.sql")

  /** Drops a trailing `LIMIT n` so a test compares every row; a no-op on
    * the texts the kit writes without one (q71, q87). */
  val stripLimit: (String, String) = ("(?i)LIMIT\\s+\\d+\\s*$", "")

  /** Apply per-query regex substitutions in order. Each pattern except
    * `stripLimit` must match the text it is applied to: a pattern that
    * matches nothing would leave the kit literal in place and the query
    * silently un-re-aimed. */
  def substitute(q: String, text: String, subs: Seq[(String, String)]): String =
    subs.foldLeft(text) { case (t, sub @ (from, to)) =>
      require(sub == stripLimit || from.r.findFirstIn(t).isDefined,
        s"$q: substitution pattern /$from/ matches nothing in the text")
      t.replaceAll(from, to)
    }

  def text(q: String, subs: (String, String)*): String = {
    val base = params.foldLeft(raw(q)
      .replaceAll(
        "\"\\$\\{database\\}\"\\.\"\\$\\{schema\\}\"\\.\"\\$\\{prefix\\}(\\w+)\"",
        "tpch_$1")
      .replaceAll("\\s+", " ").trim.stripSuffix(";")) {
      case (t, (from, to)) => t.replace(from, to)
    }
    substitute(q, base, subs)
  }
}
