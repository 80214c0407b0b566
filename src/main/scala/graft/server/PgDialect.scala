package graft.server

import org.apache.spark.sql.internal.SQLConf

import graft.ddl.PgText

/** Text-level Postgres-isms → Spark SQL, applied to every statement that
  * arrives over the wire (the wire door speaks pg dialect end to end —
  * same posture as SqlBridge's COPY handling). Handles exactly the forms
  * real clients emit, most importantly psql's catalog introspection:
  *
  *   - `"ident"`                    → `` `ident` ``   (pg quoting)
  *   - `'C:\x'`                     → `'C:\\x'`   (a standard string takes
  *     no backslash escapes; Spark's do, so each backslash is doubled)
  *   - `E'…'`                       → `'…'`   (Spark's strings already
  *     take backslash escapes)
  *   - `a OPERATOR(pg_catalog.~) b` → `a RLIKE b`
  *   - `a ~ b` / `a !~ b`           → `a RLIKE b` / `NOT (a RLIKE b)`
  *     (binary regex-match only: `~` after an operand; unary bitwise-not
  *     positions are left alone)
  *   - `expr::type`                 → `CAST(expr AS t)` for mappable types,
  *     cast dropped for pg-internal ones (regclass/regtype/…)
  *   - `COLLATE pg_catalog.default` → removed
  *   - `array(SELECT …)`            → `array((SELECT …))`
  *   - `x = ANY(arr)`               → `array_contains(arr, x)` is NOT
  *     rewritten here — Spark's `= ANY` subquery form differs; psql's one
  *     use rides on an empty table and is rewritten by the targeted rule.
  *
  * Every pass walks the regions of [[graft.ddl.PgText]], so nothing inside
  * a literal, a quoted identifier, a dollar-quoted body or a comment is
  * ever rewritten as code.
  */
object PgDialect {

  /** Keywords that can directly precede a unary operator. */
  private val keywords = Set("select", "where", "and", "or", "not", "then",
    "else", "when", "on", "by", "as", "from", "join", "having", "case",
    "in", "like", "between", "union", "all", "distinct", "set", "values",
    "is", "returning", "ilike", "offset", "limit", "end")

  /** Spark cast target for a pg type name (with optional `(p[,s])` args);
    * None = drop the cast (the type is pg-internal bookkeeping with no
    * Spark analogue). numeric/decimal keep exactness: declared precision
    * is honored, bare `::numeric` maps to DECIMAL(38,18) — the widest
    * Spark decimal with pg-numeric-like headroom — never to DOUBLE (a
    * double would silently lose int8 > 2^53 and money-style values). */
  private def castTarget(pgType: String, args: Seq[Int]): Option[String] =
    pgType.toLowerCase match {
      case "text" | "varchar" | "bpchar" | "name" | "char" => Some("STRING")
      case "int2" | "smallint" => Some("SMALLINT")
      case "int4" | "int" | "integer" | "oid" => Some("INT")
      case "int8" | "bigint" => Some("BIGINT")
      case "float4" | "real" => Some("FLOAT")
      case "float8" => Some("DOUBLE")
      case "bool" | "boolean" => Some("BOOLEAN")
      case "date" => Some("DATE")
      case "timestamp" | "timestamptz" => Some("TIMESTAMP")
      case "numeric" | "decimal" => args match {
        case Seq(p, s) if p <= 38 => Some(s"DECIMAL($p,$s)")
        case Seq(p) if p <= 38 => Some(s"DECIMAL($p,0)")
        // pg numeric caps at p=1000; Spark at 38. Clamp precision but KEEP
        // the declared scale (capped at 38): widening the scale to 18
        // changed value semantics, and shrinking integer-digit headroom to
        // 38-18=20 silently nulled wide values under non-ANSI cast. With
        // the declared scale kept, only values that genuinely exceed
        // 38-digit precision are affected.
        case Seq(_, s) => Some(s"DECIMAL(38,${math.min(s, 38)})")
        case Seq(_) => Some("DECIMAL(38,0)")
        case _ => Some("DECIMAL(38,18)")
      }
      case _ => None // regclass, regtype, regproc, regnamespace, ...
    }

  /** pg SQL → Spark SQL; `$n` parameter markers stay as written. */
  def translate(sql: String): String = translated(sql, markers = false)._1

  /** [[translate]], with each `$n` parameter marker in code rewritten to
    * Spark's named marker `:pn`; also the highest n, the parameter count a
    * Parse message declares. */
  def translateParams(sql: String): (String, Int) =
    translated(sql, markers = true)

  private def translated(sql: String, markers: Boolean): (String, Int) = {
    // COPY rides SqlBridge's own pg-COPY parser untouched
    if (sql.dropWhile(_.isWhitespace).take(5).equalsIgnoreCase("COPY "))
      return (sql, 0)
    // Logical-replication probes lean on pg-only constructs
    // (int2[] casts, generate_series/array_upper in FROM) that no Spark
    // rewrite can honor. Publications are empty by fiat here, so the
    // correct answer is always zero rows with the probed column count.
    if (sql.contains("pg_catalog.pg_publication"))
      return ("SELECT NULL AS pubname, NULL AS prqual, NULL AS prattrs " +
        "WHERE 1 = 0", 0)
    // psql \d+'s toast-options fragment builds an array from a correlated
    // table function (pg_catalog.unnest in FROM) — inexpressible in Spark,
    // and reloptions is always NULL here, so the fragment IS NULL.
    val toastFragment = "array(select 'toast.' || x from " +
      "pg_catalog.unnest(tc.reloptions) x)"
    val sql0 =
      if (sql.contains(toastFragment))
        sql.replace(toastFragment, "CAST(NULL AS ARRAY<STRING>)")
      else sql
    // `SHOW <guc>` — answered from [[settings]] for the settings pg clients
    // read. Spark's own SHOW TABLES/DATABASES/… forms pass through
    // untouched.
    val trimmed = sql0.trim.stripSuffix(";").trim
    if (trimmed.length >= 5 && trimmed.take(5).equalsIgnoreCase("SHOW ")) {
      val guc = trimmed.drop(5).trim.replaceAll("\\s+", " ") match {
        case g if g.equalsIgnoreCase("transaction isolation level") =>
          "transaction_isolation"
        case g => g
      }
      settings(SQLConf.get).find(_._1.equalsIgnoreCase(guc)) match {
        case Some((col, v)) => return (s"SELECT '$v' AS $col", 0)
        case None => ()
      }
    }
    translateBody(translateDdlTypes(sql0), markers)
  }

  /** pg column types in `CREATE TABLE` → Spark DDL types (`TEXT`,
    * `int4`, `float8`, `timestamptz`, `double precision`, `character
    * varying(n)`, `numeric(p,s)`, …) so real pg clients can create
    * tables over the wire. Only the TYPE position of each top-level
    * column definition is rewritten — the second token of the segment —
    * so a column *named* like a type (`text text`) keeps its name;
    * table-level constraint segments (PRIMARY KEY(…), CHECK(…), …) pass
    * through. Non-CREATE-TABLE statements return unchanged. */
  private[server] def translateDdlTypes(sql: String): String = {
    // ALTER TABLE … ADD [COLUMN] shares the column-def shape
    val alterHead = ("(?is)^(\\s*alter\\s+table\\s+(?:if\\s+exists\\s+)?" +
      "(?:\"[^\"]+\"|`[^`]+`|\\S+)\\s+add\\s+(?:column\\s+)?" +
      "(?:if\\s+not\\s+exists\\s+)?)(.+)$").r
    sql match {
      case alterHead(prefix, seg) => return prefix + rewriteColumnSeg(seg)
      case _ => ()
    }
    val head = "(?is)^\\s*create\\s+(?:temp(?:orary)?\\s+)?table\\s+".r
    if (head.findFirstIn(sql).isEmpty) return sql
    PgText.parenGroup(sql) match {
      // CTAS: the paren group is a query, not a column list
      case Some((open, close))
          if "(?is)\\bas\\s*$".r.findFirstIn(sql.substring(0, open)).isEmpty =>
        val segs = PgText.split(sql.substring(open + 1, close), ',')
        sql.substring(0, open + 1) + segs.map(rewriteColumnSeg).mkString(",") +
          sql.substring(close)
      case _ => sql
    }
  }

  private val constraintHeads = Set("primary", "unique", "check",
    "constraint", "foreign", "exclude", "like")
  private val columnTypeRe =
    "(?is)^(\\s*(?:\"[^\"]+\"|`[^`]+`|[\\w$]+)\\s+)([a-zA-Z_]\\w*)(\\s*\\(\\s*\\d+(?:\\s*,\\s*\\d+)?\\s*\\))?((?:\\s+.*)?)$".r

  /** One `name type [constraints]` column definition → the type mapped to
    * Spark's name; constraint segments and unmappable types untouched. */
  private def rewriteColumnSeg(seg0: String): String = {
    val word1 = seg0.trim.takeWhile(c => !c.isWhitespace).toLowerCase
    if (constraintHeads.contains(word1)) return seg0
    // multi-word pg types first (their extra words would otherwise read
    // as constraint text)
    val seg = seg0
      .replaceAll("(?i)\\bdouble\\s+precision\\b", "DOUBLE")
      .replaceAll("(?i)\\bcharacter\\s+varying(\\s*\\(\\s*\\d+\\s*\\))?",
        "STRING")
      .replaceAll("(?i)\\btimestamp\\s+with(?:out)?\\s+time\\s+zone\\b",
        "TIMESTAMP")
    seg match {
      case columnTypeRe(name, tpe, args, rest) =>
        val argInts = Option(args).map(
          _.replaceAll("[()\\s]", "").split(',').map(_.toInt).toSeq)
          .getOrElse(Nil)
        castTarget(tpe.toLowerCase, argInts) match {
          case Some(t) => s"$name$t${Option(rest).getOrElse("")}"
          case None => seg
        }
      case _ => seg
    }
  }

  /** The settings a connection reports in ParameterStatus at startup, and
    * what `SHOW` answers for each. psql picks its catalog SQL by
    * server_version; libpq and JDBC quote literals by
    * standard_conforming_strings. The server reads and writes UTF-8 only,
    * whatever encoding a client asks for. */
  private[server] def reported(conf: SQLConf): Seq[(String, String)] = Seq(
    "server_version" -> "16.0 (graft)",
    "server_encoding" -> "UTF8",
    "client_encoding" -> "UTF8",
    "DateStyle" -> "ISO, YMD",
    "TimeZone" -> conf.sessionLocalTimeZone,
    "integer_datetimes" -> "on",
    "standard_conforming_strings" -> "on")

  /** Every setting `SHOW` answers: the reported ones and a few more that
    * clients read (JDBC: transaction isolation). */
  private def settings(conf: SQLConf): Seq[(String, String)] =
    reported(conf) ++ Seq(
      "transaction_isolation" -> "read committed",
      "search_path" -> "public",
      "application_name" -> "",
      "max_identifier_length" -> "63")

  /** One walk over the regions of `sql`: each non-code region is written
    * in Spark's terms, and code is rewritten arm by arm. */
  private def translateBody(sql: String, markers: Boolean): (String, Int) = {
    val out = new StringBuilder(sql.length + 16)
    var i = 0
    val n = sql.length
    var params = 0
    // [atomStart, atomEnd) of `out`: the last region or `$n` marker written;
    // a `::` cast right after it binds to all of it
    var atomStart = -1
    var atomEnd = -1
    // parenthesis depth in code, and the depths at which an `array((`
    // wrap takes its extra `)`
    var depth = 0
    var wraps = List.empty[Int]

    def isIdentChar(c: Char) =
      c.isLetterOrDigit || c == '_' || c == '$' || c == '.'

    /** Last significant token of `out` is an operand end → a following `~`
      * is the binary regex-match operator (not unary bitwise-not). A
      * trailing SQL keyword (SELECT ~x, WHERE ~x, …) is not an operand. */
    def afterOperand: Boolean = {
      var j = out.length - 1
      while (j >= 0 && out(j).isWhitespace) j -= 1
      if (j < 0) return false
      if (out(j) == ')' || out(j) == '\'' || out(j) == '`') return true
      if (!isIdentChar(out(j))) return false
      val e = j
      while (j >= 0 && isIdentChar(out(j))) j -= 1
      !PgDialect.keywords.contains(
        out.substring(j + 1, e + 1).toLowerCase)
    }

    /** Start index in `out` of the operand that `::` binds to: a literal,
      * identifier or marker just written, a paren group, or a (possibly
      * qualified) name — plain, backticked or mixed (`t`.`c`, t.`c`,
      * `t`.c) — whichever ends at out.end. */
    def operandStart: Int = {
      val end = out.length
      if (end == 0) return 0
      // start of the name segment whose last character is out(j)
      def segmentStart(j0: Int): Int = {
        var j = j0
        if (out(j) == '`') {
          j -= 1
          while (j >= 0 && out(j) != '`') j -= 1
          math.max(j, 0)
        } else {
          while (j >= 0 && isIdentChar(out(j))) j -= 1
          j + 1
        }
      }
      def isName(j: Int) = j >= 0 && (out(j) == '`' || isIdentChar(out(j)))
      var start =
        if (atomEnd == end) atomStart
        else out(end - 1) match {
          case ')' =>
            var depth = 0
            var j = end - 1
            while (j >= 0) {
              if (out(j) == ')') depth += 1
              else if (out(j) == '(') { depth -= 1; if (depth == 0) return j }
              j -= 1
            }
            return 0
          case c if c == '`' || isIdentChar(c) => segmentStart(end - 1)
          case _ => return end
        }
      // extend over each qualifier in front of a name: a dot that opens
      // the segment (t.c's run) or sits just before it (`c`)
      var more = isName(start)
      while (more) {
        val prev =
          if (out(start) == '.') start - 1
          else if (start > 0 && out(start - 1) == '.') start - 2
          else -1
        more = isName(prev)
        if (more) start = segmentStart(prev)
      }
      start
    }

    while (i < n) {
      val region = PgText.regionAt(sql, i)
      val c = sql(i)
      if (region.kind != PgText.Code) {
        val start = out.length
        region.kind match {
          case PgText.Str =>
            out.append(sql.substring(i, region.end).replace("\\", "\\\\"))
          case PgText.EscStr => out.append(sql.substring(i + 1, region.end))
          case PgText.Ident =>
            out += '`'
            out.append(PgText.identName(sql, region).replace("`", "``"))
            out += '`'
          case _ => out.append(sql.substring(i, region.end))
        }
        if (region.kind != PgText.Comment) {
          atomStart = start; atomEnd = out.length
        }
        i = region.end
      } else c match {
        // ---- $n parameter marker → :pn ---------------------------------
        case '$' if markers && i + 1 < n && sql(i + 1).isDigit &&
            !PgText.continuesWord(sql, i) =>
          var j = i + 1
          while (j < n && sql(j).isDigit) j += 1
          val idx = sql.substring(i + 1, j).toInt
          params = math.max(params, idx)
          atomStart = out.length
          out.append(":p").append(idx)
          atomEnd = out.length
          i = j

        // ---- :: cast ----------------------------------------------------
        case ':' if i + 1 < n && sql(i + 1) == ':' =>
          i += 2
          // type name: bare/qualified ident, or a quoted name (::"char")
          val bare =
            if (i < n && sql(i) == '"') {
              val q = PgText.regionAt(sql, i)
              i = q.end
              PgText.identName(sql, q)
            } else {
              val t0 = i
              while (i < n && (sql(i).isLetterOrDigit || sql(i) == '_' ||
                sql(i) == '.')) i += 1
              val full = sql.substring(t0, i)
              // multi-word pg type names extend past the first word
              def ext(words: String): Boolean = {
                var j = i
                while (j < n && sql(j) == ' ') j += 1
                sql.regionMatches(true, j, words, 0, words.length) &&
                  (j + words.length >= n ||
                    !isIdentChar(sql(j + words.length))) && {
                  i = j + words.length; true
                }
              }
              full.substring(full.lastIndexOf('.') + 1).toLowerCase match {
                case "double" if ext("precision") => "float8"
                case "character" if ext("varying") => "varchar"
                case w @ ("timestamp" | "time") =>
                  if (ext("with time zone") || ext("without time zone")) ()
                  w
                case w => w
              }
            }
          // optional `(p[,s])` type args — numeric(10,2), varchar(64), …;
          // consumed so they never leak into the emitted CAST, honored for
          // numeric/decimal precision
          var typeArgs: Seq[Int] = Nil
          locally {
            var j = i
            while (j < n && sql(j) == ' ') j += 1
            if (j < n && sql(j) == '(') {
              val closeIdx = sql.indexOf(')', j)
              if (closeIdx > 0) {
                val parts = sql.substring(j + 1, closeIdx)
                  .split(",").map(_.trim)
                if (parts.nonEmpty &&
                    parts.forall(p => p.nonEmpty && p.forall(_.isDigit))) {
                  typeArgs = parts.map(_.toInt).toSeq
                  i = closeIdx + 1
                }
              }
            }
          }
          // array bounds: any run of [ ] / [n] groups (possibly spaced)
          // makes this an array type with no Spark text-cast analogue
          var isArray = false
          var j = i
          var scanning = true
          while (scanning) {
            var k = j
            while (k < n && sql(k) == ' ') k += 1
            if (k < n && sql(k) == '[') {
              k += 1
              while (k < n && sql(k).isDigit) k += 1
              if (k < n && sql(k) == ']') { isArray = true; j = k + 1 }
              else scanning = false
            } else scanning = false
          }
          if (isArray) i = j
          (if (isArray) None else castTarget(bare, typeArgs)) match {
            case Some(sparkT) =>
              val s0 = operandStart
              out.insert(s0, "CAST(")
              out.append(" AS ").append(sparkT).append(')')
            case None => () // drop the cast, keep the operand
          }

        // ---- OPERATOR(pg_catalog.~) and friends -------------------------
        case 'O' | 'o' if sql.regionMatches(true, i, "OPERATOR(", 0, 9) =>
          val close = sql.indexOf(')', i)
          if (close > 0) {
            val op = sql.substring(i + 9, close)
              .replace("pg_catalog.", "").trim
            op match {
              case "~" => out.append(" RLIKE "); i = close + 1
              case "!~" => out.append(" NOT RLIKE "); i = close + 1
              case _ => out += c; i += 1
            }
          } else { out += c; i += 1 }

        // ---- COLLATE <qualified-ident> → removed ------------------------
        case 'C' | 'c' if sql.regionMatches(true, i, "COLLATE", 0, 7) &&
            (i + 7 >= n || !isIdentChar(sql(i + 7))) &&
            (i == 0 || !isIdentChar(sql(i - 1))) =>
          i += 7
          while (i < n && sql(i).isWhitespace) i += 1
          if (i < n && sql(i) == '"') i = PgText.regionAt(sql, i).end
          else {
            while (i < n && (sql(i).isLetterOrDigit || sql(i) == '_' ||
              sql(i) == '.')) i += 1
          }

        // ---- array(SELECT …) → array((SELECT …)) ----------------------
        // A Spark scalar subquery inside the array constructor. psql only
        // builds arrays from always-empty catalog relations, so the ≤1-row
        // scalar contract can't be violated at runtime.
        case 'a' | 'A' if sql.regionMatches(true, i, "array", 0, 5) &&
            !PgText.continuesWord(sql, i) && {
          var j = i + 5
          while (j < n && sql(j).isWhitespace) j += 1
          j < n && sql(j) == '(' && {
            var k = j + 1
            while (k < n && sql(k).isWhitespace) k += 1
            sql.regionMatches(true, k, "select", 0, 6)
          }
        } =>
          val open = sql.indexOf('(', i)
          out.append(sql.substring(i, open)).append("((")
          depth += 1
          wraps = depth :: wraps
          i = open + 1
        case '(' => depth += 1; out += c; i += 1
        case ')' =>
          if (wraps.headOption.contains(depth)) {
            out += ')'; wraps = wraps.tail
          }
          depth -= 1; out += c; i += 1

        // ---- `= ANY(x)` → `IN (x)` --------------------------------------
        // Plain equality only (`>= ANY` etc. keep comparison semantics),
        // and only when the rewrite preserves pg meaning exactly: a
        // subquery (`= ANY(SELECT …)` ≡ `IN (SELECT …)`) or a bare
        // column reference (scalar in our catalog schemas). Anything else
        // — e.g. a '{…}'::type[] array literal — passes through untouched
        // so it fails loudly instead of silently comparing strings.
        case '=' if (i == 0 || !"<>!=".contains(sql(i - 1))) && {
          var j = i + 1
          while (j < n && sql(j).isWhitespace) j += 1
          sql.regionMatches(true, j, "ANY", 0, 3) && {
            var k = j + 3
            while (k < n && sql(k).isWhitespace) k += 1
            k < n && sql(k) == '(' && {
              var m = k + 1
              while (m < n && sql(m).isWhitespace) m += 1
              val isSubquery = sql.regionMatches(true, m, "SELECT", 0, 6)
              val isBareRef = {
                var p = m
                while (p < n && (isIdentChar(sql(p)) ||
                  sql(p).isWhitespace)) p += 1
                p > m && p < n && sql(p) == ')'
              }
              isSubquery || isBareRef
            }
          }
        } =>
          out.append(" IN ")
          i += 1
          while (i < n && sql(i).isWhitespace) i += 1
          i += 3 // ANY
          while (i < n && sql(i).isWhitespace) i += 1

        // ---- binary regex-match operators -------------------------------
        case '!' if i + 1 < n && sql(i + 1) == '~' && afterOperand =>
          val ci = i + 2 < n && sql(i + 2) == '*'
          out.append(if (ci) " NOT RLIKE '(?i)' || " else " NOT RLIKE ")
          i += (if (ci) 3 else 2)
        case '~' if afterOperand &&
            !(i + 1 < n && sql(i + 1) == '~') && (i == 0 || sql(i - 1) != '~') =>
          val ci = i + 1 < n && sql(i + 1) == '*'
          out.append(if (ci) " RLIKE '(?i)' || " else " RLIKE ")
          i += (if (ci) 2 else 1)

        case _ =>
          out += c; i += 1
      }
    }
    (out.toString, params)
  }
}
