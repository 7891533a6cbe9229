package graft

/** DuckDB literal spellings Spark's parser rejects, rewritten at the SQL
  * text level before parsing (ref surface: type_support.test:42,213,242,
  * 305-318). Pure, idempotent string→string, applied by [[GraftParser]]
  * to every statement and to an INSERT's VALUES list ([[insertValues]]),
  * plus the one quote- and paren-aware scanner the rewrites and
  * [[SqlRouter]]'s grammar share.
  */
private[graft] object DuckSyntax {

  private val HexBlob =
    "'((?:\\\\x[0-9A-Fa-f]{2})+)'\\s*::\\s*(?i:BLOB)".r
  private val HugeLiteral =
    "(?<![\\w.'])(-?\\d{39,})(?![\\w.'])".r

  // ---- the SQL text scanner: Spark's lexer view of quotes and parens ----

  private def isQuote(c: Char): Boolean = c == '\'' || c == '"' || c == '`'

  /** End (exclusive) of the quoted span opening at `i`, as Spark's lexer
    * reads it: `\` escapes the next character inside '…' and "…"
    * literals; a doubled quote is an adjacent span, so re-entering at it
    * covers the `''` escape. Backquoted identifiers have no `\`. */
  private def quotedEnd(s: String, i: Int): Int = {
    val q = s.charAt(i); var j = i + 1
    while (j < s.length && s.charAt(j) != q)
      j += (if (q != '`' && s.charAt(j) == '\\') 2 else 1)
    math.min(j + 1, s.length)
  }

  /** Calls `f(i, depth)` for each index of `s` from `from` on that lies
    * outside quoted spans; `depth` counts the parens open around `i` (a
    * paren itself reports the depth outside it). `f` returns false to
    * stop. */
  private def walk(s: String, from: Int = 0)(f: (Int, Int) => Boolean): Unit = {
    var i = from; var depth = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isQuote(c)) i = quotedEnd(s, i)
      else {
        if (c == ')') depth -= 1
        if (!f(i, depth)) return
        if (c == '(') depth += 1
        i += 1
      }
    }
  }

  private def isWord(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** (start, end) of the first match of `re` that starts a word at paren
    * depth 0, outside quoted spans: a keyword inside a string literal, a
    * subquery or a call (`extract(year FROM d)`) never matches. */
  def findTop(s: String, re: scala.util.matching.Regex): Option[(Int, Int)] = {
    val m = re.pattern.matcher(s)
    var hit = Option.empty[(Int, Int)]
    walk(s) { (i, depth) =>
      if (depth == 0 && (i == 0 || !isWord(s.charAt(i - 1))) &&
          m.region(i, s.length).lookingAt()) hit = Some((i, m.end))
      hit.isEmpty
    }
    hit
  }

  /** `s` split on its top-level commas (assignment lists, option lists). */
  def splitTop(s: String): Seq[String] = {
    val cuts = scala.collection.mutable.ArrayBuffer[Int](-1)
    walk(s) { (i, depth) =>
      if (depth == 0 && s.charAt(i) == ',') cuts += i
      true
    }
    (cuts :+ s.length).sliding(2).map(c => s.substring(c(0) + 1, c(1))).toSeq
  }

  /** Index of the ')' closing the '(' at `open`, or -1 if it never closes. */
  def matchParen(s: String, open: Int): Int = {
    var close = -1
    walk(s, open) { (i, depth) =>
      if (depth == 0 && s.charAt(i) == ')') close = i
      close < 0
    }
    close
  }

  /** Apply `f` to the stretches of `s` OUTSIDE quoted spans, leaving
    * every literal body byte-identical — so a document text mentioning
    * `::UUID` or a VALUES string containing digits is never rewritten.
    * Regex rewrites are only ever trusted between literals. */
  private def outsideLiterals(s: String)(f: String => String): String = {
    val out = new StringBuilder
    var i = 0; var start = 0
    while (i < s.length)
      if (isQuote(s.charAt(i))) {
        val j = quotedEnd(s, i)
        out.append(f(s.substring(start, i))).append(s.substring(i, j))
        i = j; start = j
      } else i += 1
    out.append(f(s.substring(start))).toString
  }

  /** `'\xDE\xAD'::BLOB` → `X'DEAD'`; text `::BLOB` → `::BINARY`;
    * `::UUID` → `::STRING`; integer literals beyond DECIMAL(38) (HUGEINT /
    * UHUGEINT extremes) → quoted strings (they cast onto the STRING carry
    * columns; unquoted they fail Spark's parser outright). The hex-BLOB
    * form consumes its own literal; every other rewrite applies only
    * outside string literals. */
  def rewriteCasts(q: String): String = {
    val s = HexBlob.replaceAllIn(q,
      m => "X'" + m.group(1).replace("\\x", "") + "'")
    outsideLiterals(s) { seg =>
      var t = seg.replaceAll("(?i)::\\s*BLOB\\b", "::BINARY")
      t = t.replaceAll("(?i)::\\s*UUID\\b", "::STRING")
      HugeLiteral.replaceAllIn(t, m => "'" + m.group(1) + "'")
    }
  }

  /** True when the payload carries a (now-quoted) beyond-DECIMAL(38)
    * integer literal. */
  private def hasHugeLiteral(q: String): Boolean =
    "'-?\\d{39,}'".r.findFirstIn(q).isDefined

  /** An INSERT whose source is a top-level VALUES list, with that list
    * spelled as a payload: [[rewriteCasts]], intervals as structs (only
    * here — a SELECT may do native interval arithmetic), and every
    * numeric quoted once a HUGEINT extreme forces text. */
  def insertValues(q: String): String =
    findTop(q, "(?i)VALUES\\b".r).fold(q) { case (i, _) =>
      val s = rewriteIntervals(rewriteCasts(q.substring(i)))
      q.substring(0, i) + (if (hasHugeLiteral(s)) quoteNumerics(s) else s)
    }

  private val BareNumeric = "(?<![\\w.'])(-?\\d+(?:\\.\\d+)?)(?![\\w.'])".r

  /** Quote every bare numeric literal — Spark's inline tables refuse a
    * column mixing strings and numbers, so once one value in a VALUES
    * payload must be a string (a HUGEINT extreme), every row's value
    * becomes text and [[Engine.insertInto]]'s per-column cast restores
    * the target types, exactly DuckDB's VALUES-coercion behavior.
    * Digits inside string values (`('abc 123', 42)`) are untouched. */
  def quoteNumerics(values: String): String =
    outsideLiterals(values)(seg =>
      BareNumeric.replaceAllIn(seg, m => "'" + m.group(1) + "'"))

  // quoted multi-unit interval literal — NOT the ANSI `INTERVAL '1' DAY` /
  // `INTERVAL '1 2:00:00' DAY TO SECOND` forms, which Spark parses natively
  private val IntervalLit =
    ("(?i)\\bINTERVAL\\s+'([^']+)'(?!\\s*(?:YEAR|MONTH|WEEK|DAY|HOUR|" +
      "MINUTE|SECOND|MILLISECOND|MICROSECOND)S?\\b)").r
  private val UnitToken =
    "(?i)(\\d+)\\s*(years?|months?|weeks?|days?|hours?|minutes?|seconds?|milliseconds?|microseconds?)".r
  private val TimeToken = "(\\d+):(\\d{2}):(\\d{2})(?:\\.(\\d+))?".r

  /** DuckDB INTERVAL literal → the engine's comparable interval struct
    * (months, days, micros + the 30-day-normalized comparison key that
    * leads the struct — [[Engine.IntervalStructDdl]]). */
  def rewriteIntervals(q: String): String =
    IntervalLit.replaceAllIn(q, m => {
      val (months, days, micros) = parseInterval(m.group(1))
      val icmp = months * 2592000000000L + days * 86400000000L + micros
      s"named_struct('icmp', ${icmp}L, 'months', $months, 'days', $days, " +
        s"'micros', ${micros}L)"
    })

  // `<rel> [alias] ASOF [LEFT] JOIN <rel> [alias] ON <conds>` where rel is
  // a table name or a one-level-parenthesized subquery. Conds: equi
  // conjuncts + exactly one time inequality.
  private val AsofJoin =
    ("(?is)(\\((?:[^()]|\\([^()]*\\))*\\)\\s*\\w+|[\\w.]+\\s+\\w+|[\\w.]+)" +
      "\\s+ASOF\\s+(LEFT\\s+)?JOIN\\s+" +
      "(\\((?:[^()]|\\([^()]*\\))*\\)\\s*(\\w+)|[\\w.]+\\s+(\\w+)|[\\w.]+)" +
      "\\s+ON\\s+((?:(?!\\bWHERE\\b|\\bGROUP\\b|\\bORDER\\b|\\bLIMIT\\b|" +
      "\\bUNION\\b).)*)").r
  private val Ineq = "(\\w+)\\.(\\w+)\\s*(>=|<=|>|<)\\s*(\\w+)\\.(\\w+)".r

  /** DuckDB `ASOF JOIN` (query_plan_analyzer.cpp:129) → a correlated
    * LATERAL subquery picking the single best match per probe row: the
    * right side filtered by the ON conjuncts, ordered by its time column
    * toward the probe's time, LIMIT 1. Catalyst decorrelates this into a
    * window-free join + per-key max — semantics identical to DuckDB's
    * inner/left ASOF. */
  def rewriteAsofJoin(q: String): String =
    AsofJoin.replaceAllIn(q, m => {
      val left = m.group(1)
      val isLeft = m.group(2) != null
      val right = m.group(3)
      val rightAlias = Option(m.group(4)).orElse(Option(m.group(5)))
        .getOrElse(right.trim)
      val conds = m.group(6).trim
      val dir = Ineq.findFirstMatchIn(conds).map { im =>
        // ORDER toward the probe: if the right side is the smaller one
        // (probe.ts >= build.ts) take the max build.ts → DESC
        val rightIsSecond = im.group(4) == rightAlias
        val op = im.group(3)
        val buildCol =
          if (rightIsSecond) s"$rightAlias.${im.group(5)}"
          else s"$rightAlias.${im.group(2)}"
        val desc = (op == ">=" || op == ">") == rightIsSecond
        s"ORDER BY $buildCol ${if (desc) "DESC" else "ASC"}"
      }.getOrElse("")
      val lateral = s"LATERAL (SELECT * FROM ${stripAlias(right, rightAlias)} " +
        s"$rightAlias WHERE $conds $dir LIMIT 1) $rightAlias"
      if (isLeft) s"$left LEFT JOIN $lateral ON true"
      else s"$left JOIN $lateral ON true"
    })

  private def stripAlias(rel: String, alias: String): String = {
    val t = rel.trim
    if (t.endsWith(alias) && t.length > alias.length)
      t.substring(0, t.length - alias.length).trim
    else t
  }

  private[graft] def parseInterval(text: String): (Long, Long, Long) = {
    var months = 0L; var days = 0L; var micros = 0L
    UnitToken.findAllMatchIn(text).foreach { m =>
      val n = m.group(1).toLong
      m.group(2).toLowerCase.stripSuffix("s") match {
        case "year" => months += n * 12
        case "month" => months += n
        case "week" => days += n * 7
        case "day" => days += n
        case "hour" => micros += n * 3600000000L
        case "minute" => micros += n * 60000000L
        case "second" => micros += n * 1000000L
        case "millisecond" => micros += n * 1000L
        case "microsecond" => micros += n
      }
    }
    // bare HH:MM:SS[.ffffff] tail ('1 day 00:00:00.0015')
    TimeToken.findAllMatchIn(text).foreach { m =>
      micros += m.group(1).toLong * 3600000000L +
        m.group(2).toLong * 60000000L + m.group(3).toLong * 1000000L +
        Option(m.group(4)).map(f => f.padTo(6, '0').take(6).toLong)
          .getOrElse(0L)
    }
    (months, days, micros)
  }
}
