package graft

import graft.functions.SqlText
import org.scalatest.funsuite.AnyFunSuite

/** The shared lexical rules of the text frontends ([[SqlText]]):
  * quotes with backslash escapes, `--` and nested `/* */` comments,
  * identifier characters including `_` and `$`, one depth over
  * `()[]{}`, and errors that name the offset and line:col. */
class SqlTextSpec extends AnyFunSuite {

  test("keywords match whole identifiers, `_` and `$` included") {
    assert(SqlText.findKw("SELECT valid_from FROM t", "FROM") == 18)
    assert(SqlText.findKw("SELECT $from, from_x, x.from FROM t", "FROM") == 29)
    assert(SqlText.findKw("SELECT a FROM t", "from") == 9)
    assert(SqlText.findKw("SELECT a", "FROM") == -1)
    // multi-word keywords take any whitespace run between words
    assert(SqlText.findKw("x END\n  DO y", "END DO") == 2)
    assert(SqlText.kwEnd("UNION \t ALL x", 0, "UNION ALL") == 11)
  }

  test("an escaped quote stays inside its literal") {
    assert(SqlText.findKw("SELECT 'it\\'s FROM x' AS a FROM t", "FROM") == 27)
    assert(SqlText.findKw("SELECT \"a\\\" FROM\" FROM t", "FROM") == 18)
    // no escapes inside backticks
    assert(SqlText.findKw("SELECT `a\\` FROM t", "FROM") == 12)
  }

  test("keywords, separators and brackets inside comments are whitespace") {
    val s = "SELECT /* FROM ( /* nested; */ ' */ a, -- FROM ; '\n b FROM t"
    assert(SqlText.findKw(s, "FROM") == s.lastIndexOf("FROM"))
    assert(SqlText.split(s).map(_.trim.takeRight(1)) == Seq("a", "t"))
    assert(SqlText.split("a; /* ; */ b; 'c;d'", ";").length == 3)
    assert(SqlText.dropComments(s) == "SELECT   a,  \n b FROM t")
    val m = SqlText.mask(s)
    assert(m.length == s.length && m.count(_ == '\'') == 0 &&
      m.endsWith(" a, " + " " * 11 + "\n b FROM t"))
  }

  test("one depth over ()[]{}; depth-0 search stops at the group's end") {
    val s = "f(a, [b, (c)], {d: e}) ?? g"
    assert(SqlText.matchBracket(s, 1) == 21)
    assert(SqlText.openerOf(s, 21) == 1)
    assert(SqlText.openerOf(s, 12) == 5)
    // the backward walk reads a mask: a quoted bracket is not one
    assert(SqlText.openerOf(SqlText.mask("f('(', x)"), 8) == 1)
    assert(SqlText.split(s.substring(2, 21)).map(_.trim) ==
      Seq("a", "[b, (c)]", "{d: e}"))
    assert(SqlText.split(s, "??").map(_.trim) == Seq(s.take(22), "g"))
    assert(SqlText.groupEnd("a, (b) ) c", 0) == 7)
    assert(SqlText.findKw("(SELECT 1) LIMIT 1", "LIMIT", 1) == -1)
    assert(SqlText.indexOfTop("x -> (y -> z)", "->") == 2)
  }

  test("a regex's \\b is an identifier boundary, `$` and letters included") {
    val s = "SELECT $from, \u00dffrom, valid_from FROM t"
    assert(SqlText.re("(?i)\\bFROM\\b").findFirstMatchIn(s).map(_.start) ==
      Some(s.lastIndexOf("FROM")))
    // Java's own \b takes `$` for a boundary
    assert("(?i)\\bFROM\\b".r.findFirstMatchIn(s).map(_.start) == Some(8))
    assert(SqlText.re("\\$x\\b").findAllIn("$x + $x$y + $xy + ($x)").length == 2)
  }

  test("the comment drop keeps Spark hints") {
    assert(SqlText.dropComments("SELECT /*+ BROADCAST(d) */ a /* b */ FROM t") ==
      "SELECT /*+ BROADCAST(d) */ a   FROM t")
    assert(SqlText.mask("/*+ x */").trim.isEmpty)
  }

  test("unbalanced brackets and unterminated quotes or comments name the " +
    "offset and line:col") {
    def msg(f: => Any) = intercept[IllegalArgumentException](f).getMessage
    assert(msg(SqlText.matchBracket("SELECT\n  f(a, (b)", 10)) ==
      "unbalanced '(' at offset 10 (line 2:4)")
    assert(msg(SqlText.openerOf("a)", 1)) ==
      "unbalanced ')' at offset 1 (line 1:2)")
    assert(msg(SqlText.mask("SELECT 1;\nSELECT 'abc")) ==
      "unterminated ' quote at offset 17 (line 2:8)")
    assert(msg(SqlText.dropComments("a /* b /* c */\n d")) ==
      "unterminated /* comment at offset 2 (line 1:3)")
  }
}
