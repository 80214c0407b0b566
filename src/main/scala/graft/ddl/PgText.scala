package graft.ddl

/** The one reading of PostgreSQL SQL text (PostgreSQL docs §4.1): where a
  * literal, a quoted identifier or a comment ends. Text splits into
  * regions:
  *
  *   - code;
  *   - standard strings `'…'`: `''` doubles a quote and a backslash is an
  *     ordinary character (`standard_conforming_strings = on`);
  *   - escape strings `E'…'`, which take backslash escapes;
  *   - quoted identifiers `"…"`, where `""` doubles a quote;
  *   - dollar-quoted `$tag$…$tag$` bodies;
  *   - `--` line comments and nested `/* … */` comments.
  *
  * An unterminated region runs to the end of the text. A `$` or an `E`
  * that continues an identifier (`a$1`, `a$b$`, `nameE'x'`) is code, as in
  * pg. The wire door's statement split and dialect translation,
  * [[SqlBridge]]'s option and column lists, and [[graft.Runner]]'s script
  * split all walk these regions. */
object PgText {

  sealed abstract class Kind
  case object Code extends Kind
  case object Str extends Kind
  case object EscStr extends Kind
  case object Ident extends Kind
  case object Dollar extends Kind
  case object Comment extends Kind

  /** `sql.substring(start, end)` is one region; a code region is one
    * character. */
  final case class Region(kind: Kind, start: Int, end: Int)

  /** Whether the character before `i` belongs to a word (identifier,
    * keyword or number), so that `sql(i)` continues it. */
  def continuesWord(sql: String, i: Int): Boolean =
    i > 0 && { val c = sql(i - 1); c.isLetterOrDigit || c == '_' || c == '$' }

  /** The region that starts at `i`. */
  def regionAt(sql: String, i: Int): Region = {
    val n = sql.length
    // a quoted region opening at `open`: a doubled quote stays inside, and
    // in an escape string a backslash takes the next character with it
    def quoted(kind: Kind, open: Int, q: Char): Region = {
      var j = open + 1
      var end = -1
      while (j < n && end < 0) {
        val c = sql(j)
        if (c == '\\' && kind == EscStr) j += 2
        else if (c != q) j += 1
        else if (j + 1 < n && sql(j + 1) == q) j += 2
        else end = j + 1
      }
      Region(kind, i, if (end < 0) n else end)
    }
    sql(i) match {
      case '\'' => quoted(Str, i, '\'')
      case '"' => quoted(Ident, i, '"')
      case 'E' | 'e' if i + 1 < n && sql(i + 1) == '\'' &&
          !continuesWord(sql, i) => quoted(EscStr, i + 1, '\'')
      case '-' if sql.startsWith("--", i) =>
        val eol = sql.indexOf('\n', i)
        Region(Comment, i, if (eol < 0) n else eol)
      case '/' if sql.startsWith("/*", i) =>
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (sql.startsWith("*/", j)) { depth -= 1; j += 2 }
          else if (sql.startsWith("/*", j)) { depth += 1; j += 2 }
          else j += 1
        }
        Region(Comment, i, math.min(j, n))
      case '$' if !continuesWord(sql, i) =>
        // a tag is empty or an identifier; `$1` is a parameter marker
        var j = i + 1
        if (j < n && (sql(j).isLetter || sql(j) == '_'))
          while (j < n && (sql(j).isLetterOrDigit || sql(j) == '_')) j += 1
        if (j < n && sql(j) == '$') {
          val tag = sql.substring(i, j + 1)
          val close = sql.indexOf(tag, j + 1)
          Region(Dollar, i, if (close < 0) n else close + tag.length)
        } else Region(Code, i, i + 1)
      case _ => Region(Code, i, i + 1)
    }
  }

  /** The regions of `sql`, in order; together they cover it. */
  def regions(sql: String): Iterator[Region] =
    Iterator.unfold(0) { i =>
      if (i >= sql.length) None
      else { val r = regionAt(sql, i); Some((r, r.end)) }
    }

  /** The pieces of `s` between the `sep` characters that sit in code
    * outside parentheses, exactly as written. */
  def split(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    regions(s).filter(_.kind == Code).foreach { r =>
      s(r.start) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case c if c == sep && depth <= 0 =>
          out += s.substring(start, r.start)
          start = r.end
        case _ => ()
      }
    }
    (out += s.substring(start)).result()
  }

  /** The statements of a script: its pieces between `;`s in code outside
    * parentheses, trimmed. A piece of only whitespace and comments is no
    * statement. */
  def statements(sql: String): Seq[String] =
    split(sql, ';').filter(stripComments(_).trim.nonEmpty).map(_.trim)

  /** `s` with each comment replaced by a space, as pg reads it. */
  def stripComments(s: String): String = {
    val out = new StringBuilder(s.length)
    regions(s).foreach { r =>
      out.append(if (r.kind == Comment) " " else s.substring(r.start, r.end))
    }
    out.toString
  }

  /** The first `(` in code and the `)` that closes it. */
  def parenGroup(s: String): Option[(Int, Int)] = {
    var depth = 0
    var open = -1
    regions(s).filter(_.kind == Code).map(_.start).find { i =>
      if (s(i) == '(') { if (open < 0) open = i; depth += 1 }
      else if (s(i) == ')' && depth > 0) depth -= 1
      s(i) == ')' && depth == 0 && open >= 0
    }.map(open -> _)
  }

  /** The value `s` spells when it is exactly one string literal: in a
    * standard string `''` is `'`; an escape string also decodes its
    * backslash escapes: `b f n r t`, up to 3 octal digits, `x` and up to 2
    * hex digits, `u` and 4 or `U` and 8 hex digits; any other escaped
    * character is itself. None for anything else. */
  def literal(s: String): Option[String] = {
    val r = if (s.isEmpty) Region(Code, 0, 0) else regionAt(s, 0)
    val open = s.indexOf('\'')
    if ((r.kind != Str && r.kind != EscStr) || r.end != s.length ||
        s.length - open < 2 || s.last != '\'') return None
    val body = s.substring(open + 1, s.length - 1)
    if (r.kind == Str) return Some(body.replace("''", "'"))
    val out = new StringBuilder(body.length)
    var i = 0
    // up to `max` digits of base `radix` from i as one code point; with
    // no digit there, the escaped character `e` itself
    def code(e: Char, max: Int, radix: Int): Unit = {
      var j = i
      while (j < body.length && j - i < max &&
          Character.digit(body(j), radix) >= 0) j += 1
      if (j == i) out += e
      else out.appendAll(
        Character.toChars(Integer.parseInt(body.substring(i, j), radix)))
      i = j
    }
    while (i < body.length) {
      val c = body(i)
      i += 1
      if (c == '\'' && i < body.length && body(i) == '\'') { out += c; i += 1 }
      else if (c != '\\' || i >= body.length) out += c
      else {
        val e = body(i)
        i += 1
        e match {
          case 'b' => out += '\b'
          case 'f' => out += '\f'
          case 'n' => out += '\n'
          case 'r' => out += '\r'
          case 't' => out += '\t'
          case d if d >= '0' && d <= '7' => i -= 1; code(d, 3, 8)
          case 'x' => code('x', 2, 16)
          case 'u' => code('u', 4, 16)
          case 'U' => code('U', 8, 16)
          case other => out += other
        }
      }
    }
    Some(out.toString)
  }

  /** The name a quoted identifier region spells: its quotes dropped and
    * each `""` read as one `"`. */
  def identName(sql: String, r: Region): String = {
    val close = if (r.end - r.start >= 2 && sql(r.end - 1) == '"') 1 else 0
    sql.substring(r.start + 1, r.end - close).replace("\"\"", "\"")
  }
}
