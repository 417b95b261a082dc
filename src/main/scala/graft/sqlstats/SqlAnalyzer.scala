package graft.sqlstats

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.UsingJoin
import org.apache.spark.sql.catalyst.plans.logical._

/** J1-J3/J5 (SURVEY.md §2.4): syntactic feature extraction over Catalyst's
  * unresolved plans — the rebuild of the reference's Impala-frontend AST
  * visitors (QueryAnalyzer.java:34-331, QueryStats.java:7-137) without the
  * missing impala-frontend jar. `CatalystSqlParser` is session-free, so the
  * whole analysis runs inside executors (a map over the queries table's
  * distinct statements, see `SqlFeatures.attach`),
  * unlike the reference's single-threaded driver loop.
  *
  * Catalyst-vs-Impala mapping notes:
  *  - BETWEEN is rewritten by Spark's parser into `a >= x AND a <= y`; we
  *    pattern-match that shape back into a Between count (the AND and the
  *    two comparisons are NOT also counted, matching the pre-rewrite AST
  *    the reference walks).
  *  - interval arithmetic (`ts + INTERVAL ...`) stands in for Impala's
  *    TimestampArithmeticExpr.
  *  - window expressions count as analytic AND their inner function call
  *    as a function call (Catalyst nests the call inside the window spec).
  */
object SqlAnalyzer {

  val CompoundOps = Seq("AND", "OR", "NOT")
  val BinaryOps = Seq("EQ", "NE", "LT", "LE", "GT", "GE")
  val LikeOps = Seq("LIKE", "RLIKE", "REGEXP")

  /** Mutable mirror of QueryStats.java:7-42. */
  final class Stats {
    var numOutputColumns = 0
    var numFromSubqueries = 0
    var numWhereSubqueries = 0
    var numWithSubqueries = 0
    var maxDepthSubqueries = 0
    var numGroupByColumns = 0
    var numOrderByColumns = 0
    var numLimits = 0
    val numWhereCompoundPredicates: mutable.Map[String, Int] = zeros(CompoundOps)
    val numWhereBinaryPredicates: mutable.Map[String, Int] = zeros(BinaryOps)
    val numWhereLikePredicates: mutable.Map[String, Int] = zeros(LikeOps)
    var numWhereInPredicates = 0
    var numWhereBetweenPredicates = 0
    var numWhereExistsPredicates = 0
    var numWhereIsNullPredicates = 0
    var numWhereFunctionCallExprs = 0
    var numWhereCaseExprs = 0
    var numWhereArithmeticExprs = 0
    var numWhereCastExprs = 0
    var numWhereTimestampArithmeticExprs = 0
    var numSelectCaseExprs = 0
    var numSelectArithmeticExprs = 0
    var numSelectCastExprs = 0
    var numSelectFunctionCallExprs = 0
    var numSelectAnalyticExprs = 0
    val numSelectCompoundPredicates: mutable.Map[String, Int] = zeros(CompoundOps)
    val numSelectBinaryPredicates: mutable.Map[String, Int] = zeros(BinaryOps)
    var numSelectIsNullPredicates = 0
    val numHavingCompoundPredicates: mutable.Map[String, Int] = zeros(CompoundOps)
    val numHavingBinaryPredicates: mutable.Map[String, Int] = zeros(BinaryOps)
    var numHavingFunctionCallExprs = 0
    var numUsingColumns = 0
    val numOnCompoundPredicates: mutable.Map[String, Int] = zeros(CompoundOps)
    val numOnBinaryPredicates: mutable.Map[String, Int] = zeros(BinaryOps)
    var numOnBetweenPredicates = 0
    var numOnFunctionCallExprs = 0

    private def zeros(keys: Seq[String]) = mutable.Map(keys.map(_ -> 0): _*)

    /** J2: QueryStats.merge (QueryStats.java:95-131). */
    def merge(o: Stats): Unit = {
      numFromSubqueries += o.numFromSubqueries
      numWhereSubqueries += o.numWhereSubqueries
      numWithSubqueries += o.numWithSubqueries
      maxDepthSubqueries = math.max(maxDepthSubqueries, o.maxDepthSubqueries)
      numGroupByColumns += o.numGroupByColumns
      numOrderByColumns += o.numOrderByColumns
      numLimits += o.numLimits
      mergeMap(numWhereCompoundPredicates, o.numWhereCompoundPredicates)
      mergeMap(numWhereBinaryPredicates, o.numWhereBinaryPredicates)
      mergeMap(numWhereLikePredicates, o.numWhereLikePredicates)
      numWhereInPredicates += o.numWhereInPredicates
      numWhereBetweenPredicates += o.numWhereBetweenPredicates
      numWhereExistsPredicates += o.numWhereExistsPredicates
      numWhereIsNullPredicates += o.numWhereIsNullPredicates
      numWhereFunctionCallExprs += o.numWhereFunctionCallExprs
      numWhereCaseExprs += o.numWhereCaseExprs
      numWhereArithmeticExprs += o.numWhereArithmeticExprs
      numWhereCastExprs += o.numWhereCastExprs
      numWhereTimestampArithmeticExprs += o.numWhereTimestampArithmeticExprs
      numSelectCaseExprs += o.numSelectCaseExprs
      numSelectArithmeticExprs += o.numSelectArithmeticExprs
      numSelectCastExprs += o.numSelectCastExprs
      numSelectFunctionCallExprs += o.numSelectFunctionCallExprs
      numSelectAnalyticExprs += o.numSelectAnalyticExprs
      mergeMap(numSelectCompoundPredicates, o.numSelectCompoundPredicates)
      mergeMap(numSelectBinaryPredicates, o.numSelectBinaryPredicates)
      numSelectIsNullPredicates += o.numSelectIsNullPredicates
      mergeMap(numHavingCompoundPredicates, o.numHavingCompoundPredicates)
      mergeMap(numHavingBinaryPredicates, o.numHavingBinaryPredicates)
      numHavingFunctionCallExprs += o.numHavingFunctionCallExprs
      numUsingColumns += o.numUsingColumns
      mergeMap(numOnCompoundPredicates, o.numOnCompoundPredicates)
      mergeMap(numOnBinaryPredicates, o.numOnBinaryPredicates)
      numOnFunctionCallExprs += o.numOnFunctionCallExprs
      numOnBetweenPredicates += o.numOnBetweenPredicates
    }
    private def mergeMap(a: mutable.Map[String, Int], b: mutable.Map[String, Int]): Unit =
      b.foreach { case (k, v) => a(k) = a.getOrElse(k, 0) + v }
  }

  private object Clause extends Enumeration { val Select, Where, Having, On = Value }

  private def binOpKey(e: Expression): Option[String] = e match {
    case _: EqualTo => Some("EQ")
    case _: EqualNullSafe => Some("EQ")
    case _: LessThan => Some("LT")
    case _: LessThanOrEqual => Some("LE")
    case _: GreaterThan => Some("GT")
    case _: GreaterThanOrEqual => Some("GE")
    case _ => None
  }

  private def isArithmetic(e: Expression): Boolean = e match {
    case _: Add | _: Subtract | _: Multiply | _: Divide | _: Remainder |
         _: UnaryMinus | _: UnaryPositive | _: BitwiseAnd | _: BitwiseOr |
         _: BitwiseXor | _: BitwiseNot => true
    case _ => false
  }

  private def isIntervalLiteral(e: Expression): Boolean = e match {
    case l: Literal => l.dataType.typeName.contains("interval")
    case _ => false
  }

  /** ts ± INTERVAL — the Catalyst shape of TimestampArithmeticExpr. */
  private def isTimestampArithmetic(e: Expression): Boolean = e match {
    case Add(l, r, _) => isIntervalLiteral(l) || isIntervalLiteral(r)
    case Subtract(l, r, _) => isIntervalLiteral(l) || isIntervalLiteral(r)
    case _ => false
  }

  /** Spark's parser rewrote `a BETWEEN x AND y` into this exact shape. */
  private object BetweenShape {
    def unapply(e: Expression): Option[Seq[Expression]] = e match {
      case And(GreaterThanOrEqual(a1, lo), LessThanOrEqual(a2, hi)) if a1 == a2 =>
        Some(Seq(a1, lo, hi))
      case _ => None
    }
  }

  private def visitExpr(e: Expression, clause: Clause.Value, s: Stats,
                        depthStats: Stats): Unit = {
    if (e == null) return
    var recurseChildren: Seq[Expression] = e.children
    clause match {
      case Clause.Select => e match {
        case _: CaseWhen => s.numSelectCaseExprs += 1
        case w: WindowExpression => s.numSelectAnalyticExprs += 1
        case _: UnresolvedWindowExpression => s.numSelectAnalyticExprs += 1
        case a if isTimestampArithmetic(a) => s.numSelectArithmeticExprs += 1
        case a if isArithmetic(a) => s.numSelectArithmeticExprs += 1
        case _: Cast => s.numSelectCastExprs += 1
        case _: UnresolvedFunction => s.numSelectFunctionCallExprs += 1
        case And(_, _) => s.numSelectCompoundPredicates("AND") += 1
        case Or(_, _) => s.numSelectCompoundPredicates("OR") += 1
        case Not(_) => s.numSelectCompoundPredicates("NOT") += 1
        case b if binOpKey(b).isDefined => s.numSelectBinaryPredicates(binOpKey(b).get) += 1
        case _: IsNull | _: IsNotNull => s.numSelectIsNullPredicates += 1
        case _ => ()
      }
      case Clause.Where => e match {
        case f: UnresolvedFunction if f.nameParts.map(_.toLowerCase) == Seq("between") =>
          s.numWhereBetweenPredicates += 1 // Spark 4 parses BETWEEN to this
        case BetweenShape(children) =>
          s.numWhereBetweenPredicates += 1
          recurseChildren = children
        case And(_, _) => s.numWhereCompoundPredicates("AND") += 1
        case Or(_, _) => s.numWhereCompoundPredicates("OR") += 1
        case Not(_) => s.numWhereCompoundPredicates("NOT") += 1
        case b if binOpKey(b).isDefined => s.numWhereBinaryPredicates(binOpKey(b).get) += 1
        case _: Like => s.numWhereLikePredicates("LIKE") += 1
        case _: RLike => s.numWhereLikePredicates("RLIKE") += 1
        case InSubquery(values, q) =>
          // Impala InPredicate + its Subquery child both fire
          s.numWhereInPredicates += 1
          s.numWhereSubqueries += 1
          depthStats.merge(statsOfQuery(q.plan))
          recurseChildren = values
        case _: In => s.numWhereInPredicates += 1
        case Exists(plan, _, _, _, _) =>
          s.numWhereExistsPredicates += 1
          s.numWhereSubqueries += 1
          depthStats.merge(statsOfQuery(plan))
          recurseChildren = Seq.empty
        case sq: ScalarSubquery =>
          s.numWhereSubqueries += 1
          depthStats.merge(statsOfQuery(sq.plan))
          recurseChildren = Seq.empty
        case _: IsNull | _: IsNotNull => s.numWhereIsNullPredicates += 1
        case a if isTimestampArithmetic(a) => s.numWhereTimestampArithmeticExprs += 1
        case a if isArithmetic(a) => s.numWhereArithmeticExprs += 1
        case _: Cast => s.numWhereCastExprs += 1
        case _: UnresolvedFunction => s.numWhereFunctionCallExprs += 1
        case _: CaseWhen => s.numWhereCaseExprs += 1
        case _ => ()
      }
      case Clause.Having => e match {
        case And(_, _) => s.numHavingCompoundPredicates("AND") += 1
        case Or(_, _) => s.numHavingCompoundPredicates("OR") += 1
        case Not(_) => s.numHavingCompoundPredicates("NOT") += 1
        case b if binOpKey(b).isDefined => s.numHavingBinaryPredicates(binOpKey(b).get) += 1
        case _: UnresolvedFunction => s.numHavingFunctionCallExprs += 1
        case _ => ()
      }
      case Clause.On => e match {
        case f: UnresolvedFunction if f.nameParts.map(_.toLowerCase) == Seq("between") =>
          s.numOnBetweenPredicates += 1
        case BetweenShape(children) =>
          s.numOnBetweenPredicates += 1
          recurseChildren = children
        case And(_, _) => s.numOnCompoundPredicates("AND") += 1
        case Or(_, _) => s.numOnCompoundPredicates("OR") += 1
        case Not(_) => s.numOnCompoundPredicates("NOT") += 1
        case b if binOpKey(b).isDefined => s.numOnBinaryPredicates(binOpKey(b).get) += 1
        case _: UnresolvedFunction => s.numOnFunctionCallExprs += 1
        case _ => ()
      }
    }
    recurseChildren.foreach(visitExpr(_, clause, s, depthStats))
  }

  private def visitSelectList(list: Seq[Expression], s: Stats): Unit =
    list.foreach {
      case _: UnresolvedStar => s.numOutputColumns = -1
      case e =>
        if (s.numOutputColumns != -1) s.numOutputColumns += 1
        visitExpr(stripAlias(e), Clause.Select, s, s)
    }

  private def stripAlias(e: Expression): Expression = e match {
    case Alias(child, _) => child
    case UnresolvedAlias(child, _) => child
    case other => other
  }

  /** One "select level" walk — the Catalyst chain of wrappers down to the
    * FROM; subqueries recurse through statsOfQuery (their own level). */
  private def walkLevel(plan: LogicalPlan, s: Stats): Unit = plan match {
    case w: UnresolvedWith =>
      w.cteRelations.foreach { case (_, sub, _) =>
        s.numWithSubqueries += 1
        s.merge(statsOfQuery(sub.child))
      }
      walkLevel(w.child, s)
    case g: GlobalLimit => s.numLimits += 1; walkLevel(g.child, s)
    case l: LocalLimit => walkLevel(l.child, s)
    case st: Sort => s.numOrderByColumns += st.order.size; walkLevel(st.child, s)
    case d: Distinct => walkLevel(d.child, s)
    case u: Union =>
      u.children.foreach { operand =>
        val os = statsOfQuery(operand)
        s.numOutputColumns = os.numOutputColumns // last operand wins (J3)
        s.merge(os)
      }
    case h: UnresolvedHaving =>
      visitExpr(h.havingCondition, Clause.Having, s, s)
      walkLevel(h.child, s)
    case f: Filter =>
      visitExpr(f.condition, Clause.Where, s, s)
      walkLevel(f.child, s)
    case a: Aggregate =>
      s.numGroupByColumns += a.groupingExpressions.size
      visitSelectList(a.aggregateExpressions, s)
      walkLevel(a.child, s)
    case p: Project =>
      visitSelectList(p.projectList, s)
      walkLevel(p.child, s)
    case j: Join =>
      j.joinType match {
        case UsingJoin(_, cols) => s.numUsingColumns += cols.size
        case _ => j.condition.foreach(visitExpr(_, Clause.On, s, s))
      }
      walkLevel(j.left, s); walkLevel(j.right, s)
    case sa: SubqueryAlias => sa.child match {
      case _: UnresolvedRelation | _: UnresolvedInlineTable => ()
      case sub =>
        s.numFromSubqueries += 1
        s.merge(statsOfQuery(sub))
    }
    case _: UnresolvedRelation | _: OneRowRelation | _: UnresolvedInlineTable => ()
    case other => other.children.foreach(walkLevel(_, s))
  }

  /** Union-at-root detection: strip With/Sort/Limit/Distinct wrappers. */
  private def isUnionRoot(plan: LogicalPlan): Boolean = plan match {
    case _: Union => true
    case w: UnresolvedWith => isUnionRoot(w.child)
    case g: GlobalLimit => isUnionRoot(g.child)
    case l: LocalLimit => isUnionRoot(l.child)
    case st: Sort => isUnionRoot(st.child)
    case d: Distinct => isUnionRoot(d.child)
    case _ => false
  }

  /** getQueryStats (QueryAnalyzer.java:34-40): stats of one query plan,
    * with the per-SELECT-level depth bump (QueryAnalyzer.java:277-279). */
  def statsOfQuery(plan: LogicalPlan): Stats = {
    val s = new Stats
    walkLevel(plan, s)
    if (!isUnionRoot(plan) &&
        (s.numFromSubqueries > 0 || s.numWhereSubqueries > 0)) {
      s.maxDepthSubqueries += 1
    }
    s
  }

  /** Statement type as Impala names it: SelectStmt / UnionStmt /
    * InsertStmt / <class name> (QueryAnalyzer.java:14-40). */
  def statementType(plan: LogicalPlan): String = plan match {
    case _: InsertIntoStatement => "InsertStmt"
    case p if isUnionRoot(p) => "UnionStmt"
    case _: Project | _: Aggregate | _: Filter | _: Sort | _: GlobalLimit |
         _: LocalLimit | _: Distinct | _: UnresolvedWith | _: UnresolvedHaving => "SelectStmt"
    case other => other.getClass.getSimpleName
  }

  /** Impala-dialect tolerance. The reference parses with Impala's own
    * frontend (QueryAnalyzer.java:335-337), which accepts Impala plan hints
    * natively; Catalyst's ANSI parser rejects them, which would collapse a
    * meaningful fraction of a real Impala workload to `Unparseable`. Strip
    * the hint surface before parsing — hints never change statement
    * semantics, only physical planning, so the feature vector is unaffected:
    *  - bracket hints after JOIN / INSERT target: `[broadcast]`, `[shuffle]`,
    *    `[noshuffle]`, `[clustered]`, `[sortby(...)]`, `[schedule_*]`
    *  - comment hints, both Impala's `/* +broadcast */` and `/*+ shuffle */`
    *  - `SELECT STRAIGHT_JOIN` — Impala's join-order pin keyword
    * Stripping is quote-aware: the statement is scanned once and the
    * replacements run only on regions outside string literals / quoted
    * identifiers ('…' with backslash escapes, "…", `…`), so a literal that
    * CONTAINS a hint-shaped token — including an unterminated slash-star-plus
    * opener, which a quote-blind regex would strip through the next real
    * comment close, corrupting the statement's quoting — passes through
    * byte-identical. A block comment or `-- …` line comment is one
    * outside-quotes region (a quote inside a comment does not open a
    * literal).
    * Residual limitation: an UNquoted identifier literally named
    * `straight_join` is still eaten; quote it.
    */
  private val BracketHint =
    "(?i)\\[\\s*(broadcast|shuffle|noshuffle|clustered|noclustered|schedule_\\w+|sortby\\s*\\([^)]*\\))\\s*\\]".r
  private val CommentHint = "(?s)/\\*\\s*\\+.*?\\*/".r
  private val StraightJoin = "(?i)\\bSTRAIGHT_JOIN\\b".r

  /** Apply `f` to the regions of `sql` outside quoted literals and quoted
    * identifiers, re-assembling with quoted content untouched. Comments are
    * part of the outside-quotes stream (so CommentHint can match them and
    * quotes inside them are inert). Doubled-quote escaping ('it''s') needs
    * no special case: the scanner closes and reopens the literal, which
    * reassembles byte-identically. */
  private def mapOutsideQuotes(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    var i = 0
    var quote: Char = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        out.append(c)
        if (c == '\\' && quote != '`' && i + 1 < sql.length) {
          out.append(sql.charAt(i + 1)); i += 1
        } else if (c == quote) quote = 0
      } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        val end = sql.indexOf("*/", i + 2)
        val stop = if (end < 0) sql.length else end + 2
        // substring, not append(s, i, stop): Scala's StringBuilder lacks the
        // 3-arg CharSequence overload and silently auto-tuples into append(Any)
        seg.append(sql.substring(i, stop)); i = stop - 1
      } else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        val end = sql.indexOf('\n', i)
        val stop = if (end < 0) sql.length else end
        seg.append(sql.substring(i, stop)); i = stop - 1
      } else if (c == '\'' || c == '"' || c == '`') {
        out.append(f(seg.toString)); seg.setLength(0)
        out.append(c); quote = c
      } else seg.append(c)
      i += 1
    }
    out.append(f(seg.toString))
    out.toString
  }

  def stripImpalaHints(sql: String): String =
    mapOutsideQuotes(sql)(s =>
      StraightJoin.replaceAllIn(
        BracketHint.replaceAllIn(
          CommentHint.replaceAllIn(s, " "), " "), " "))

  def parse(sql: String): LogicalPlan =
    CatalystSqlParser.parsePlan(stripImpalaHints(sql))
}
