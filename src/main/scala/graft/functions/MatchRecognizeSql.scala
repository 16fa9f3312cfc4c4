package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.{MatchRecognize => MR}

/** `src MATCH_RECOGNIZE ( ... )` in FROM position — the SQL row-pattern
  * clause (SQLv1.g.in:550 row_pattern_recognition_clause;
  * sql/v1/sql_match_recognize.cpp; executor
  * minikql/comp_nodes/mkql_match_recognize*.h), lowered onto the
  * existing NFA operator [[graft.streaming.MatchRecognize]].
  *
  * The lowering is Spark-first: `PREV(col)` navigation in DEFINE
  * becomes a lag() window column and every DEFINE condition becomes a
  * precomputed BOOLEAN column over the augmented frame (whole-stage
  * codegen evaluates the predicates at scan speed, once per row — the
  * NFA closures just read the precomputed flags), so arbitrary SQL
  * expressions work in DEFINE without per-row interpretation inside
  * the match loop. The matched result registers as a temp view and the
  * clause text is spliced out — the enclosing statement still parses
  * through Catalyst unchanged.
  *
  * Supported subset (raises beyond it, like the reference raises on
  * its own unsupported forms):
  *   - PARTITION BY cols, ORDER BY cols (ascending — the reference's
  *     streaming posture orders by event time ascending),
  *   - MEASURES: `FIRST(X.col)`, `LAST(X.col)`, `X.col` (= LAST),
  *     `COUNT(X.*)`,
  *   - ONE ROW PER MATCH (default) and ALL ROWS PER MATCH (every
  *     matched row + the match-level measures, FINAL semantics —
  *     mkql_match_recognize_rows_formatter.cpp TAllRowsFormatter
  *     computes measures once per match and repeats them per row),
  *   - AFTER MATCH SKIP TO NEXT ROW | SKIP PAST LAST ROW (default),
  *   - PATTERN: sequence of variables with `+ * ? {n}` quantifiers and
  *     unquantified alternation groups `(A | B C)`,
  *   - DEFINE: any Spark SQL boolean expression over the row's columns
  *     (`X.col` qualifiers strip to `col` — conditions evaluate on the
  *     candidate row) and `PREV(col)` / `PREV(X.col)`; an undefined
  *     pattern variable is always-true (the standard's default).
  *
  * Scale: two exchanges — the lag window (only when PREV is used) and
  * the per-key group for the NFA — both keyed by PARTITION BY; state
  * is one partition's rows, the same contract as the operator API.
  */
object MatchRecognizeSql {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Splice every `src MATCH_RECOGNIZE (...)` in `sql` with a temp
    * view holding the matched rows; fixpoint over multiple clauses. */
  def rewrite(spark: SparkSession, sql: String): String = {
    val masked = SqlText.mask(sql)
    val m = SqlText.re("(?i)\\bMATCH_RECOGNIZE\\s*\\(").findFirstMatchIn(masked)
      .getOrElse(return sql)
    val open = m.end - 1
    val close = SqlText.matchBracket(masked, open)
    val body = sql.substring(open + 1, close)
    // the source immediately precedes the clause (grammar: the rpr
    // clause binds BEFORE the alias): an identifier chain or a
    // parenthesized derived table
    var e = m.start - 1
    while (e >= 0 && masked.charAt(e).isWhitespace) e -= 1
    require(e >= 0, "MATCH_RECOGNIZE without a source")
    val srcStart =
      if (masked.charAt(e) == ')') SqlText.openerOf(masked, e)
      else {
        var s0 = e
        while (s0 >= 0 && (SqlText.isIdent(masked.charAt(s0)) ||
          masked.charAt(s0) == '.')) s0 -= 1
        s0 + 1
      }
    val srcText = sql.substring(srcStart, e + 1)
    val src = spark.sql(
      if (srcText.trim.startsWith("(")) s"SELECT * FROM $srcText __mr_src"
      else s"SELECT * FROM $srcText")
    val out = build(src, body)
    val view = s"__mr_${counter.incrementAndGet()}"
    out.createOrReplaceTempView(view)
    rewrite(spark, sql.substring(0, srcStart) + view + sql.substring(close + 1))
  }

  // ——— clause compilation ———

  private sealed trait Measure { def name: String }
  private case class EdgeM(name: String, v: String, col: String,
      first: Boolean) extends Measure
  private case class CountM(name: String, v: String) extends Measure

  private[functions] def build(src: DataFrame, body: String): DataFrame = {
    val marks = Seq("PARTITION BY", "ORDER BY", "MEASURES",
      "ONE ROW PER MATCH", "ALL ROWS PER MATCH", "AFTER MATCH", "PATTERN",
      "DEFINE").flatMap { kw =>
        val at = SqlText.findKw(body, kw)
        if (at < 0) None
        else Some((at, SqlText.kwEnd(body, at, kw), kw))
      }.sortBy(_._1)
    def section(kw: String): Option[String] =
      marks.zipWithIndex.collectFirst { case ((_, e0, k), i) if k == kw =>
        val until = if (i + 1 < marks.length) marks(i + 1)._1 else body.length
        body.substring(e0, until).trim
      }
    // ALL ROWS PER MATCH (TAllRowsFormatter): every matched row with
    // its input columns + the match-level (FINAL) measures
    val allRows = section("ALL ROWS PER MATCH").isDefined

    def idents(s: String): Seq[String] =
      SqlText.split(s).map(_.trim).filter(_.nonEmpty).map { it =>
        val up = it.toUpperCase
        require(!up.endsWith(" DESC"),
          s"MATCH_RECOGNIZE ORDER BY is ascending (event-time order): $it")
        val base = if (up.endsWith(" ASC")) it.dropRight(4).trim else it
        require(base.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"expected a column name, got: $it")
        base
      }
    val partCols = section("PARTITION BY").map(idents).getOrElse(Seq.empty)
    val ordCols = section("ORDER BY").map(idents).getOrElse(Seq.empty)
    require(ordCols.nonEmpty, "MATCH_RECOGNIZE requires ORDER BY")

    // PATTERN ( seq ) — variables with + * ? {n}; alternation groups
    val patText0 = section("PATTERN").getOrElse(
      throw new IllegalArgumentException("MATCH_RECOGNIZE requires PATTERN"))
    require(patText0.startsWith("("), s"malformed PATTERN: $patText0")
    val patClose = SqlText.matchBracket(patText0, 0)
    val patText = patText0.substring(1, patClose)

    // DEFINE V AS expr, ... — vars without a DEFINE are always-true
    val defs: Map[String, String] = section("DEFINE").map { s =>
      SqlText.split(s).map(_.trim).filter(_.nonEmpty).map { item =>
        val at = SqlText.findKw(item, "AS")
        require(at > 0, s"malformed DEFINE item: $item")
        val v = item.substring(0, at).trim
        require(v.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"malformed DEFINE variable: $v")
        v.toUpperCase -> item.substring(at + 2).trim
      }.toMap
    }.getOrElse(Map.empty)

    // pattern variable set (for X.col qualifier stripping)
    val varNames = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(
      SqlText.mask(patText)).toSeq.map(_.toUpperCase).distinct

    // rewrite one DEFINE expr: PREV(col)/PREV(X.col) → __mr_prev_col;
    // X.col → col; FIRST/LAST/NEXT navigation raises
    val prevCols = scala.collection.mutable.LinkedHashSet.empty[String]
    def rewriteDef(ex0: String): String = {
      var ex = ex0
      var changed = true
      while (changed) {
        changed = false
        val mm = SqlText.re("(?i)\\bPREV\\s*\\(").findFirstMatchIn(SqlText.mask(ex))
        mm.foreach { m =>
          val close = SqlText.matchBracket(SqlText.mask(ex), m.end - 1)
          val inner0 = ex.substring(m.end, close).trim
          val inner = inner0.split("\\.") match {
            case Array(v, c) if varNames.contains(v.toUpperCase) => c.trim
            case Array(c) => c.trim
            case _ => throw new IllegalArgumentException(
              s"PREV takes a column reference, got: $inner0")
          }
          require(inner.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"PREV takes a column reference, got: $inner0")
          prevCols += inner
          ex = ex.substring(0, m.start) + s"__mr_prev_$inner" +
            ex.substring(close + 1)
          changed = true
        }
      }
      Seq("NEXT", "FIRST", "LAST").foreach { kw =>
        require(SqlText.re("(?i)\\b" + kw + "\\s*\\(")
          .findFirstIn(SqlText.mask(ex)).isEmpty,
          s"$kw() navigation in DEFINE is not supported (PREV only)")
      }
      // strip pattern-variable qualifiers: conditions evaluate on the
      // candidate row. Scan the quote mask and splice from the
      // original (as the PREV rewrite does) so a string literal
      // containing e.g. 'A.foo' survives untouched.
      varNames.foldLeft(ex) { (e0, v) =>
        val re = SqlText.re("(?i)\\b" + java.util.regex.Pattern.quote(v) +
          "\\.(?=[A-Za-z_])")
        val out = new StringBuilder
        var last = 0
        re.findAllMatchIn(SqlText.mask(e0)).foreach { m =>
          out.append(e0.substring(last, m.start)); last = m.end
        }
        out.append(e0.substring(last)).toString
      }
    }

    // augment: lag columns for PREV, one boolean column per DEFINE
    val defCols = defs.map { case (v, ex) => v -> (s"__mr_def_$v", rewriteDef(ex)) }
    var aug = src
    if (prevCols.nonEmpty || defCols.nonEmpty) {
      val w = Window.partitionBy(partCols.map(col): _*)
        .orderBy(ordCols.map(col): _*)
      prevCols.foreach(c => aug = aug.withColumn(s"__mr_prev_$c",
        lag(col(c), 1).over(w)))
      defCols.values.foreach { case (c, ex) =>
        aug = aug.withColumn(c, expr(ex).cast("boolean"))
      }
    }

    def pred(v: String): Row => Boolean = defCols.get(v.toUpperCase) match {
      case None => _ => true
      case Some((c, _)) => r => {
        val i = r.fieldIndex(c)
        !r.isNullAt(i) && r.getBoolean(i)
      }
    }
    def mkVar(v0: String, quant: String): MR.PatVar = {
      // canonical UPPER var names — SQL identifiers are
      // case-insensitive, and MEASURES keys the vars map by them
      val v = v0.toUpperCase
      val p1 = pred(v)
      quant match {
        case "" => MR.one(v)(p1)
        case "+" => MR.plus(v)((_, c) => p1(c))
        case "*" => MR.star(v)((_, c) => p1(c))
        case "?" => MR.opt(v)((_, c) => p1(c))
        case n => MR.times(v, n.toInt)(p1)
      }
    }
    // pattern parser: seq of [IDENT quant? | '(' seq ('|' seq)+ ')']
    def parseSeq(s: String): Seq[MR.Pat] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[MR.Pat]
      var i = 0
      val n = s.length
      while (i < n) {
        val c = s.charAt(i)
        if (c.isWhitespace) i += 1
        else if (c == '(') {
          val close = SqlText.matchBracket(s, i)
          val inner = s.substring(i + 1, close)
          val options = inner.split("\\|").toSeq.map(_.trim).filter(_.nonEmpty)
          require(options.size >= 2,
            s"parenthesized pattern group must be an alternation: ($inner)")
          i = close + 1
          require(i >= n || " )|".contains(s.charAt(i)) ||
            s.charAt(i).isWhitespace || s.charAt(i).isLetter,
            s"quantified groups are not supported: ($inner)${s.charAt(i)}")
          out += MR.Alt(options.map(o => parseSeq(o)))
        } else if (c.isLetter || c == '_') {
          var j = i
          while (j < n && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
          val v = s.substring(i, j)
          var k = j
          while (k < n && s.charAt(k).isWhitespace) k += 1
          val quant =
            if (k < n && "+*?".contains(s.charAt(k))) { val q = s.charAt(k).toString; k += 1; q }
            else if (k < n && s.charAt(k) == '{') {
              val ce = s.indexOf('}', k)
              require(ce > k, s"malformed quantifier in pattern: $s")
              val q = s.substring(k + 1, ce).trim
              require(q.matches("[0-9]+"),
                s"only exact {n} quantifiers are supported, got {$q}")
              k = ce + 1; q
            } else ""
          out += MR.Leaf(mkVar(v, quant))
          i = k
        } else throw new IllegalArgumentException(
          s"unexpected character '$c' in PATTERN: $s")
      }
      out.toSeq
    }
    val pattern = parseSeq(patText)

    // MEASURES
    val inSchema = src.schema
    val measures: Seq[Measure] = section("MEASURES").map { s =>
      SqlText.split(s).map(_.trim).filter(_.nonEmpty).map { item =>
        val at = SqlText.findKw(item, "AS")
        require(at > 0, s"MEASURES items need an alias: $item")
        val name = item.substring(at + 2).trim
        val it0 = item.substring(0, at).trim
        val edge = "(?i)^(FIRST|LAST)\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$".r
        val cnt = "(?i)^COUNT\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\.\\*\\s*\\)$".r
        val bare = "^([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)$".r
        it0 match {
          case edge(f, v, c) => EdgeM(name, v.toUpperCase, c,
            f.equalsIgnoreCase("FIRST"))
          case cnt(v) => CountM(name, v.toUpperCase)
          case bare(v, c) => EdgeM(name, v.toUpperCase, c, first = false)
          case _ => throw new IllegalArgumentException(
            "unsupported MEASURES item (FIRST/LAST(X.col), X.col, " +
              s"COUNT(X.*)): $it0")
        }
      }
    }.getOrElse(Seq.empty)
    require(measures.nonEmpty, "MATCH_RECOGNIZE requires MEASURES")
    val measureSchema = StructType(measures.map {
      case EdgeM(name, _, c, _) => StructField(name, inSchema(c).dataType)
      case CountM(name, _) => StructField(name, LongType)
    })
    val measureFn: Map[String, IndexedSeq[Row]] => Seq[Any] = vars =>
      measures.map {
        case EdgeM(_, v, c, first) =>
          val rows = vars(v)
          val r = if (first) rows.headOption else rows.lastOption
          r.map(_.getAs[Any](c)).orNull
        case CountM(_, v) => vars(v).length.toLong
      }

    val skip = section("AFTER MATCH").map(_.toUpperCase.replaceAll("\\s+", " ").trim) match {
      case Some("SKIP TO NEXT ROW") => MR.SkipToNextRow
      case Some("SKIP PAST LAST ROW") | None => MR.SkipPastLastRow
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported AFTER MATCH clause: $other")
    }

    if (allRows) {
      // emitted rows carry the AUGMENTED frame's columns — drop the
      // internal lag/define helpers so the view exposes exactly the
      // source columns + measures (the reference's output order)
      val helpers = aug.columns.filter(_.startsWith("__mr_"))
      MR.allRowsPerMatchPattern(aug, partCols, ordCols, pattern,
        measureFn, measureSchema, skip).drop(helpers: _*)
    } else
      MR.oneRowPerMatchPattern(aug, partCols, ordCols, pattern,
        measureFn, measureSchema, skip)
  }
}
