package graft.api

import scala.util.matching.Regex

/** The statement front end's one SQL text scanner: quote/comment
  * segmentation, masking, balanced-paren matching, top-level comma
  * splitting, and the two rewrite loops built on them (CAST type tails,
  * call heads with literal arguments). Every textual rewrite under
  * `graft.api` finds its positions on the masked text, so nothing inside a
  * string literal, quoted identifier or comment is ever rewritten — the
  * role the reference's single ANTLR lexer (SqlBase.g4) plays there. */
private[api] object Text {

  /** Split into (segment, isCode): code vs '…' strings (with '' escapes),
    * "…" identifiers, `--` line and slash-star block comments. */
  def segments(text: String): Seq[(String, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val n = text.length
    var i = 0
    var start = 0
    def flushCode(end: Int): Unit =
      if (end > start) out += ((text.substring(start, end), true))
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"') {
        flushCode(i)
        var j = i + 1
        var open = true
        while (j < n && open) {
          if (text.charAt(j) == c) {
            if (j + 1 < n && text.charAt(j + 1) == c) j += 2 // '' escape
            else { open = false; j += 1 }
          } else j += 1
        }
        out += ((text.substring(i, j), false)); i = j; start = j
      } else if (c == '-' && i + 1 < n && text.charAt(i + 1) == '-') {
        flushCode(i)
        var j = i
        while (j < n && text.charAt(j) != '\n') j += 1
        out += ((text.substring(i, j), false)); i = j; start = j
      } else if (c == '/' && i + 1 < n && text.charAt(i + 1) == '*') {
        flushCode(i)
        val e = text.indexOf("*/", i + 2)
        val j = if (e < 0) n else e + 2
        out += ((text.substring(i, j), false)); i = j; start = j
      } else i += 1
    }
    flushCode(n)
    out.toSeq
  }

  /** Original text with non-code spans blanked — safe for paren matching.
    * Offsets are unchanged, so a match on the masked text reads its
    * literal contents back from the original at the same positions. */
  def masked(text: String): String =
    segments(text).map { case (seg, isCode) =>
      if (isCode) seg else " " * seg.length
    }.mkString

  /** `text` with `f` applied to each code segment; literals and comments
    * pass through untouched. */
  def mapCode(text: String)(f: String => String): String =
    segments(text).map { case (seg, isCode) => if (isCode) f(seg) else seg }
      .mkString

  /** End index (exclusive) of the parenthesized group opening at `open`
    * (index of '('), measured on the masked text. */
  def matchParen(m: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < m.length) {
      m.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    m.length
  }

  /** Split `m` (masked) at top-level commas in [from, to) → index ranges. */
  def topLevelArgs(m: String, from: Int, to: Int): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var depth = 0
    var start = from
    var i = from
    while (i < to) {
      m.charAt(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => out += ((start, i)); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += ((start, to))
    out.toSeq
  }

  /** `text` cut at its top-level commas (commas inside parens, brackets,
    * literals and comments do not cut), each piece trimmed. */
  def splitTop(text: String): Seq[String] =
    topLevelArgs(masked(text), 0, text.length).map { case (a, b) =>
      text.substring(a, b).trim
    }

  private val castOpen = "(?i)\\bCAST\\s*\\(".r

  /** CAST rewrites of one kind allowed in one statement. */
  private val MaxCasts = 32

  /** The one CAST rewrite: each `CAST(expr AS type)` whose type part
    * matches `tail` becomes `splice(expr, group)`, where `group(i)` reads
    * the tail's i-th group from the original text. `tail` is matched on
    * the masked text between `CAST(` and the closing paren (exclusive) and
    * should be anchored at `\z` and open on a single `\s` before AS
    * (masked literals read as spaces, so a greedy `\s+` would swallow a
    * literal cast operand). Rewrites repeat until none matches, so nested
    * casts are handled; past [[MaxCasts]] rewrites it raises rather than
    * return a partly rewritten statement. */
  def rewriteCasts(text: String, tail: Regex)(
      splice: (String, Int => String) => String): String = {
    @annotation.tailrec
    def loop(cur: String, rewrites: Int): String = {
      val m = masked(cur)
      val hit = castOpen.findAllMatchIn(m).flatMap { open =>
        val end = matchParen(m, open.end - 1)
        tail.findFirstMatchIn(m.substring(open.end, (end - 1) max open.end))
          .map(t => (open.start, open.end, end, t))
      }.nextOption()
      hit match {
        case None => cur
        case Some((start, from, end, t)) =>
          if (rewrites == MaxCasts) throw new IllegalStateException(
            s"CAST rewrite: more than $MaxCasts casts of one kind in one " +
              "statement")
          loop(cur.substring(0, start) +
            splice(cur.substring(from, from + t.start),
              i => cur.substring(from + t.start(i), from + t.end(i))) +
            cur.substring(end), rewrites + 1)
      }
    }
    if (castOpen.findFirstIn(text).isEmpty) text else loop(text, 0)
  }

  /** Rewrites each call whose head (`name(`) matches `head` on the masked
    * text and whose leading arguments match `args` as a prefix of the
    * original text right after the head: the span from the head to the
    * end of `args` becomes `splice(head, args)`. Arguments are read from
    * the original because masking blanks the literals they hold; a head
    * inside a literal or comment is never found. */
  def rewriteCalls(text: String, head: Regex, args: Regex)(
      splice: (Regex.Match, Regex.Match) => String): String = {
    if (head.findFirstIn(text).isEmpty) return text
    val sb = new StringBuilder
    var last = 0
    for (h <- head.findAllMatchIn(masked(text)) if h.start >= last;
         a <- args.findPrefixMatchOf(text.subSequence(h.end, text.length))) {
      sb.append(text.substring(last, h.start)).append(splice(h, a))
      last = h.end + a.end
    }
    sb.append(text.substring(last)).toString
  }
}
