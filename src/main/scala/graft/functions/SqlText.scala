package graft.functions

import scala.util.matching.Regex

/** The lexical rules of the Spark-SQL text the text frontends scan and
  * emit — YQL scripts ([[YqlScript]]), module calls and sugar
  * ([[YqlSql]]), table paths ([[YqlTablePaths]]), MATCH_RECOGNIZE
  * ([[MatchRecognizeSql]]), SessionWindow ([[SessionLambda]]) and the
  * PG frontend ([[PgSql]], after its own `normalizeLexemes` has turned
  * PG literals into Spark ones). This object is the only code that
  * knows those rules:
  *
  *   - three quote kinds, `'`, `"` and backtick; a backslash escapes
  *     the next character inside `'` and `"`, never inside backticks;
  *   - `--` comments (to the end of the line) and nested `/* */`
  *     comments, both of which count as whitespace;
  *   - identifier characters: letters, digits, `_` and `$`; the
  *     passes take word boundaries only from these, [[isIdent]] in
  *     their walks and `\b` in the regexes they build with [[re]];
  *   - one bracket depth over `()`, `[]` and `{}`.
  *
  * What a plain NAME may be (`[A-Za-z_][A-Za-z0-9_]*` for YQL's
  * `$bindings` and columns, PATTERN variables, PRAGMA names) is each
  * language's grammar, not a lexical rule, and stays with its pass.
  *
  * Every primitive takes and returns positions in the text it was
  * given, so a pass scans with these and splices the original. Scans
  * start in code: a `from`/`open` position must not lie inside a quote
  * or a comment. An unterminated quote or comment and an unbalanced
  * bracket raise an `IllegalArgumentException` that names the offset
  * and line:col. */
object SqlText {

  /** What [[mask]] writes over the inside of a quoted span. */
  private val Hidden: Char = '\u0001'

  def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '$'

  /** [[isIdent]] as a regex character class (ASCII `\w` first, the
    * cheap test for the common case). */
  val IdentClass = "[\\w$\\p{L}\\p{Nd}]"

  /** A regex in which `\b` is a boundary of [[IdentClass]], not of
    * Java's `\w` (which takes `$` and non-ASCII letters for
    * boundaries): the passes write their keyword patterns through this,
    * so a keyword never matches inside `$from`. A `\b` before a word
    * (a letter, `_`, `\Q` or a group) asserts that no identifier
    * character precedes; any other `\b` that none follows. */
  def re(pattern: String): Regex = {
    val hit = compiled.get(pattern)
    if (hit != null) hit
    else {
      val r = boundaries(pattern).r
      compiled.put(pattern, r)
      r
    }
  }

  private def boundaries(p: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\\' && i + 1 < p.length) {
        if (p.charAt(i + 1) == 'b') {
          val n = if (i + 2 < p.length) p.charAt(i + 2) else ' '
          val word = n.isLetter || n == '_' || p.startsWith("\\Q", i + 2) ||
            n == '(' && (!p.startsWith("(?", i + 2) || p.startsWith("(?:", i + 2))
          out.append(if (word) s"(?<!$IdentClass)" else s"(?!$IdentClass)")
        } else out.append(c).append(p.charAt(i + 1))
        i += 2
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** [[re]]'s compiled patterns, least recently used out first. */
  private val compiled = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Regex](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Regex]): Boolean = size > 1024
    })

  private def isOpen(c: Char) = c == '(' || c == '[' || c == '{'
  private def isClose(c: Char) = c == ')' || c == ']' || c == '}'

  /** End (exclusive) of the quoted span or comment that starts at `i`;
    * `i` itself when code starts there. A `--` comment ends before its
    * newline. */
  private def skip(s: String, i: Int): Int = {
    val c = s.charAt(i)
    if (c == '\'' || c == '"' || c == '`') {
      var j = i + 1
      while (j < s.length && s.charAt(j) != c)
        j += (if (s.charAt(j) == '\\' && c != '`') 2 else 1)
      if (j >= s.length) fail(s, i, s"unterminated $c quote")
      j + 1
    } else if (c == '-' && s.startsWith("--", i)) {
      val eol = s.indexOf('\n', i)
      if (eol < 0) s.length else eol
    } else if (c == '/' && s.startsWith("/*", i)) {
      var depth = 1; var j = i + 2
      while (depth > 0) {
        if (j >= s.length) fail(s, i, "unterminated /* comment")
        if (s.startsWith("/*", j)) { depth += 1; j += 2 }
        else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
        else j += 1
      }
      j
    } else i
  }

  /** Raise with `what` at offset `at` of `s`, located as line:col. */
  def fail(s: String, at: Int, what: String): Nothing = {
    val line = 1 + (0 until math.min(at, s.length)).count(s.charAt(_) == '\n')
    val col = at - s.lastIndexOf('\n', at - 1)
    throw new IllegalArgumentException(
      s"$what at offset $at (line $line:$col)")
  }

  /** Same-length copy of `s` with the inside of every quoted span
    * overwritten by [[Hidden]] (the delimiters stay) and every comment
    * by spaces, so keyword and regex scans match only code. */
  def mask(s: String): String = {
    val a = s.toCharArray
    var i = 0
    while (i < a.length) {
      val j = skip(s, i)
      if (j == i) i += 1
      else {
        val quoted = a(i) == '\'' || a(i) == '"' || a(i) == '`'
        val (lo, hi) = if (quoted) (i + 1, j - 1) else (i, j)
        java.util.Arrays.fill(a, lo, hi, if (quoted) Hidden else ' ')
        i = j
      }
    }
    new String(a)
  }

  /** `s` with every comment replaced by one space, except a Spark
    * hint (`/*+ ... */`), which stays for Spark's parser; [[mask]] and
    * the scans still read it as whitespace. */
  def dropComments(s: String): String = {
    val out = new StringBuilder
    var i = 0; var last = 0
    while (i < s.length) {
      val j = skip(s, i)
      if (j == i) i += 1
      else {
        if (s.charAt(i) == '-' ||
            s.charAt(i) == '/' && !s.startsWith("/*+", i)) {
          out.append(s.substring(last, i)).append(' '); last = j
        }
        i = j
      }
    }
    if (last == 0) s else out.append(s.substring(last)).toString
  }

  /** First code position at or after `from`, at depth 0 relative to
    * `from`, where `hit` holds; else the closer that ends the group
    * `from` lies in; else `s.length`. */
  private def scanTop(s: String, from: Int)(hit: Int => Boolean): Int = {
    var i = from; var depth = 0
    while (i < s.length) {
      val j = skip(s, i)
      if (j > i) i = j
      else {
        val c = s.charAt(i)
        if (depth == 0 && hit(i)) return i
        if (isOpen(c)) depth += 1
        else if (isClose(c)) { depth -= 1; if (depth < 0) return i }
        i += 1
      }
    }
    s.length
  }

  /** The closer of the group `from` lies in, or `s.length` at top. */
  def groupEnd(s: String, from: Int): Int = scanTop(s, from)(_ => false)

  /** Index of the bracket that closes the one at `open`. */
  def matchBracket(s: String, open: Int): Int = {
    val close = groupEnd(s, open + 1)
    if (close >= s.length) fail(s, open, s"unbalanced '${s.charAt(open)}'")
    close
  }

  /** Index of the bracket that opens the one at `close` of `masked`,
    * a [[mask]]ed text: the walk costs only the distance it covers. */
  def openerOf(masked: String, close: Int): Int = {
    var i = close - 1; var depth = 0
    while (i >= 0) {
      val c = masked.charAt(i)
      if (isClose(c)) depth += 1
      else if (isOpen(c)) { if (depth == 0) return i; depth -= 1 }
      i -= 1
    }
    fail(masked, close, s"unbalanced '${masked.charAt(close)}'")
  }

  /** First depth-0 occurrence of `sep` at or after `from`, or -1. */
  def indexOfTop(s: String, sep: String, from: Int = 0): Int = {
    val i = scanTop(s, from)(s.startsWith(sep, _))
    if (i < s.length && s.startsWith(sep, i)) i else -1
  }

  /** `s` cut at every depth-0 `sep` (`,`, `;`, `??`, ...). */
  def split(s: String, sep: String = ","): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var at = indexOfTop(s, sep)
    while (at >= 0) {
      out += s.substring(start, at)
      start = at + sep.length
      at = indexOfTop(s, sep, start)
    }
    out += s.substring(start)
    out.toSeq
  }

  /** End of the keyword `words` (a case-insensitive word sequence,
    * any whitespace run between words) if it starts at `i`, else -1.
    * It is bounded by non-identifier characters; a word after `.` is a
    * qualified name, not a keyword. */
  private def kwEnd(s: String, i: Int, words: Array[String]): Int = {
    if (i > 0 && (isIdent(s.charAt(i - 1)) || s.charAt(i - 1) == '.'))
      return -1
    var j = i
    for (w <- words.indices) {
      if (w > 0) {
        val ws = j
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (j == ws) return -1
      }
      if (!s.regionMatches(true, j, words(w), 0, words(w).length)) return -1
      j += words(w).length
    }
    if (j < s.length && isIdent(s.charAt(j))) -1 else j
  }

  /** End of the keyword `kw` if it starts at `i`, else -1. */
  def kwEnd(s: String, i: Int, kw: String): Int = kwEnd(s, i, kw.split(' '))

  /** Earliest depth-0 keyword of `kws` (words separated by one space)
    * at or after `from`, before the group `from` lies in closes; -1 if
    * none. */
  def findKw(s: String, kws: Seq[String], from: Int): Int = {
    val words = kws.map(_.split(' '))
    def at(i: Int) = words.exists(kwEnd(s, i, _) >= 0)
    val i = scanTop(s, from)(at)
    if (i < s.length && at(i)) i else -1
  }

  def findKw(s: String, kw: String, from: Int = 0): Int =
    findKw(s, Seq(kw), from)
}
