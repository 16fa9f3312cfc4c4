package graft.functions

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graft.{shims => S}
import org.apache.spark.sql.types._

/** The extended 4-argument `SessionWindow(order, init, update,
  * calculate)` of the reference's GROUP BY (docs
  * syntax/group_by.md#session-window; sql/v1/sql_group_by.cpp session
  * handling): a per-partition sequential state machine with three user
  * lambdas —
  *
  *   - `init(row) -> State` on the first row of each partition,
  *   - `update(row, state) -> (Bool, State)` on every later row; TRUE
  *     starts a new session AT the current row,
  *   - `calculate(row, state) -> SessionKey` on the first row and on
  *     each session-starting row (with the post-update state) — the
  *     value of the SessionWindow() grouping column / `SessionStart()`.
  *
  * Sessions never merge by key value (the reference: calculate
  * returning 0,1,0,1 yields FOUR sessions), so grouping runs on a
  * per-partition session ORDINAL with the key as a carried column.
  *
  * Spark-first shape: the lambdas (already lowered to Spark-SQL lambda
  * literal text by the script surface) compile ONCE on the driver into
  * bound Catalyst expressions via the session analyzer — registered
  * YQL module functions included — then a single `mapPartitions` pass
  * evaluates the machine in O(n) per partition over rows shuffled by
  * the OTHER group keys and sorted by the order expression. That is
  * exactly the reference's execution contract (each partition is
  * processed sequentially by one task; with no other keys the whole
  * input is one partition, as the docs state), and the only
  * non-declarative step is the inherently sequential fold itself.
  */
object SessionLambda {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One parsed lambda: parameter names and Spark-SQL body text. */
  final case class Lam(params: Seq[String], body: String)

  /** Parse Spark lambda literal text: `p -> body` / `(p1, p2) -> body`. */
  private[functions] def parseLam(text: String, arity: Int,
      what: String): Lam = {
    val t = text.trim
    val at = SqlText.indexOfTop(t, "->")
    require(at > 0, s"SessionWindow $what argument must be a lambda " +
      s"(named `$$lambda` or `param -> body`), got: ${t.take(60)}")
    val head = t.substring(0, at).trim
    val params0 =
      if (head.startsWith("(") && head.endsWith(")"))
        head.substring(1, head.length - 1).split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty)
      else Seq(head)
    require(params0.length == arity && params0.forall(p =>
        p.nonEmpty && p.forall(c => c.isLetterOrDigit || c == '_') &&
          !p.head.isDigit),
      s"SessionWindow $what lambda takes exactly $arity parameter(s) " +
        s"(docs group_by.md#session-window), got: ($head)")
    Lam(params0, t.substring(at + 2).trim)
  }

  /** Splice the 4-argument `SessionWindow(...)` GROUP BY form: the
    * sessionized source registers as a temp view and the statement
    * rewrites to group on the session ordinal. 2-argument forms were
    * already lowered textually; anything else raises there. */
  def rewrite(spark: SparkSession, sql: String): String = {
    val masked = SqlText.mask(sql)
    val re = SqlText.re("(?i)\\bSessionWindow\\s*\\(")
    val m = re.findFirstMatchIn(masked).getOrElse(return sql)
    // nested scope? recurse into the innermost enclosing parens
    var open = m.start - 1
    while (open >= 0 && masked.charAt(open) != '(') {
      if (")]}".indexOf(masked.charAt(open)) >= 0)
        open = SqlText.openerOf(masked, open)
      open -= 1
    }
    if (open >= 0) {
      val close = SqlText.matchBracket(masked, open)
      return sql.substring(0, open + 1) +
        rewrite(spark, sql.substring(open + 1, close)) + sql.substring(close)
    }
    val close = SqlText.matchBracket(sql, m.end - 1)
    val args = SqlText.split(sql.substring(m.end, close))
      .map(_.trim)
    if (args.length != 4) return sql // the 2-arg lowering owns the rest
    require(re.findFirstMatchIn(masked.substring(close)).isEmpty,
      "Duplicate session window specification.")

    // ——— carve the enclosing SELECT ———
    val selAt = SqlText.findKw(sql, "SELECT")
    val fromAt = SqlText.findKw(sql, "FROM")
    val groupAt = SqlText.findKw(sql, "GROUP")
    require(selAt >= 0 && fromAt > selAt && groupAt > fromAt &&
        groupAt < m.start,
      "SessionWindow(...) is only valid in GROUP BY " +
        "(docs syntax/group_by.md#session-window)")
    val byAt = SqlText.findKw(sql, "BY", groupAt)
    val whereAt = {
      val w = SqlText.findKw(sql, "WHERE", fromAt)
      if (w >= 0 && w < groupAt) w else -1
    }
    val groupEnd = Some(SqlText.findKw(sql, Seq("HAVING", "ORDER", "LIMIT",
        "OFFSET", "WINDOW", "UNION", "INTERSECT", "EXCEPT"), byAt))
      .filter(_ >= 0).getOrElse(sql.length)
    val selectList = sql.substring(selAt + 6, fromAt)
    val fromText = sql.substring(fromAt + 4,
      if (whereAt >= 0) whereAt else groupAt).trim
    val whereText =
      if (whereAt >= 0) Some(sql.substring(whereAt + 5, groupAt).trim)
      else None
    val groupText = sql.substring(byAt + 2, groupEnd)
    val tail = sql.substring(groupEnd)

    // the SessionWindow item (+ optional AS alias) vs the other keys
    var alias: Option[String] = None
    val keys = SqlText.split(groupText).map(_.trim)
      .filter(_.nonEmpty).flatMap { item =>
        if (re.findFirstIn(SqlText.mask(item)).isEmpty) Some(item)
        else {
          val after = item.substring(SqlText.matchBracket(item,
            item.indexOf('(', re.findFirstMatchIn(
              SqlText.mask(item)).get.start)) + 1).trim
          if (after.nonEmpty) {
            val am = "(?i)^AS\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
              .findFirstMatchIn(after)
            alias = Some(am.getOrElse(throw new IllegalArgumentException(
              s"unsupported text after SessionWindow(...): $after"))
              .group(1))
          }
          None
        }
      }
    val aliasCol = alias.getOrElse("__session_start")

    val initL = parseLam(args(1), 1, "init")
    val updL = parseLam(args(2), 2, "update")
    val calcL = parseLam(args(3), 2, "calculate")

    val src = spark.sql("SELECT * FROM " + fromText +
      whereText.map(w => s" WHERE $w").getOrElse(""))
    val out = assign(spark, src, keys, args(0), initL, updL, calcL, aliasCol)
    val view = s"graft_sessw_${counter.incrementAndGet()}"
    out.createOrReplaceTempView(view)

    // SessionStart() reads the session key column
    val sel2 = SqlText.re("(?i)\\bSessionStart\\s*\\(\\s*\\)")
      .replaceAllIn(selectList, aliasCol)
    val tail2 = SqlText.re("(?i)\\bSessionStart\\s*\\(\\s*\\)")
      .replaceAllIn(tail, aliasCol)
    sql.substring(0, selAt) + "SELECT" + sel2 + "FROM " + view +
      " GROUP BY " + (keys ++ Seq("__session_id", aliasCol))
        .mkString(", ") + " " + tail2
  }

  /** Sessionize `src`: shuffle by `keySqls`, sort by `ordSql` within
    * partitions, run the init/update/calculate machine sequentially —
    * output = src columns + `aliasCol` (session key) + `__session_id`
    * (per-key session ordinal). */
  def assign(spark: SparkSession, src: DataFrame, keySqls: Seq[String],
      ordSql: String, init: Lam, upd: Lam, calc: Lam,
      aliasCol: String): DataFrame = {
    val srcSchema = src.schema
    val nSrc = srcSchema.length
    val rowType = StructType(srcSchema.fields)

    // resolve the three lambda bodies against [row[, state]] schemas;
    // state's type is whatever init produces
    val (initEx, stateType) = S.resolveAndBind(spark,
      StructType(Seq(StructField(init.params.head, rowType, false))),
      init.body)
    val updSchema = StructType(Seq(
      StructField(upd.params(0), rowType, false),
      StructField(upd.params(1), stateType, true)))
    val (updEx, updType) = S.resolveAndBind(spark, updSchema, upd.body)
    updType match {
      case st: StructType if st.length == 2 &&
          st(0).dataType == BooleanType &&
          S.sameTypeIgnoreNullability(st(1).dataType, stateType) => ()
      case other => throw new IllegalArgumentException(
        "SessionWindow update lambda must return Tuple<Bool, State> " +
          s"with State = the init lambda's type (${stateType.sql}), " +
          s"got: ${other.sql}")
    }
    val calcSchema = StructType(Seq(
      StructField(calc.params(0), rowType, false),
      StructField(calc.params(1), stateType, true)))
    val (calcEx, keyType) = S.resolveAndBind(spark, calcSchema, calc.body)

    val nKeys = keySqls.length
    val keyCols = keySqls.zipWithIndex.map { case (k, i) =>
      expr(k).as(s"__sk$i") }
    val keyed = src.select(col("*") +: keyCols: _*)
    val parted =
      if (nKeys == 0) keyed.coalesce(1)
      else keyed.repartition((0 until nKeys).map(i => col(s"__sk$i")): _*)
    val sorted = parted.sortWithinPartitions(
      (0 until nKeys).map(i => col(s"__sk$i")) :+ expr(ordSql): _*)

    val outSchema = StructType(srcSchema.fields ++ Seq(
      StructField(aliasCol, keyType, true),
      StructField("__session_id", LongType, false)))

    sorted.mapPartitions { it =>
      val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
      Seq(initEx, updEx, calcEx).foreach(S.initExpr(_, pid))
      val toCat = S.toCatalystConverter(rowType)
      val keyOut = S.toScalaConverter(keyType)
      var curKey: Seq[Any] = null
      var state: Any = null
      var sessOrd: Long = -1L
      var aliasVal: Any = null
      it.map { r =>
        val keyVals = (0 until nKeys).map(i => r.get(nSrc + i))
        val rowCat = toCat(Row.fromSeq((0 until nSrc).map(r.get)))
        if (curKey == null || keyVals != curKey) {
          curKey = keyVals
          state = S.copyValue(
            initEx.eval(new GenericInternalRow(Array[Any](rowCat))))
          sessOrd = 0L
          aliasVal = keyOut(S.copyValue(
            calcEx.eval(new GenericInternalRow(Array[Any](rowCat, state)))))
        } else {
          val u = updEx.eval(new GenericInternalRow(Array[Any](rowCat, state)))
            .asInstanceOf[InternalRow]
          require(u != null, "SessionWindow update lambda returned NULL")
          val isNew = !u.isNullAt(0) && u.getBoolean(0)
          state = S.copyValue(u.get(1, stateType))
          if (isNew) {
            sessOrd += 1L
            aliasVal = keyOut(S.copyValue(calcEx.eval(
              new GenericInternalRow(Array[Any](rowCat, state)))))
          }
        }
        Row.fromSeq((0 until nSrc).map(r.get) ++ Seq(aliasVal, sessOrd))
      }
    }(Encoders.row(outSchema))
  }
}
