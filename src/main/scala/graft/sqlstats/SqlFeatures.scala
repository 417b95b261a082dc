package graft.sqlstats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The per-statement feature row written back onto the queries table —
  * the rebuild of the reference's `sql` sub-document
  * (QueryAnalyzer.java:289-331; S6 join-and-overwrite instead of Mongo
  * $set). For InsertStmt the nested SELECT's stats are flattened here with
  * `nested_type` recording the inner statement kind
  * (QueryAnalyzer.java:22-32; stats.py:159-172 reads sql.query.* — readers
  * dispatch on sql_type + nested_type). */
case class SqlFeatures(
    sql_type: String,
    nested_type: Option[String],
    insert_overwrite: Option[Boolean],
    parameterized_stmt: Option[String],
    num_output_columns: Int,
    num_from_subqueries: Int,
    num_where_subqueries: Int,
    num_with_subqueries: Int,
    max_depth_subqueries: Int,
    num_group_by_columns: Int,
    num_order_by_columns: Int,
    num_limits: Int,
    num_where_compound_predicates: Map[String, Int],
    num_where_binary_predicates: Map[String, Int],
    num_where_like_predicates: Map[String, Int],
    num_where_in_predicates: Int,
    num_where_between_predicates: Int,
    num_where_exists_predicates: Int,
    num_where_is_null_predicates: Int,
    num_where_function_call_exprs: Int,
    num_where_case_exprs: Int,
    num_where_arithmetic_exprs: Int,
    num_where_cast_exprs: Int,
    num_where_timestamp_arithmetic_exprs: Int,
    num_select_case_exprs: Int,
    num_select_arithmetic_exprs: Int,
    num_select_cast_exprs: Int,
    num_select_function_call_exprs: Int,
    num_select_analytic_exprs: Int,
    num_select_compound_predicates: Map[String, Int],
    num_select_binary_predicates: Map[String, Int],
    num_select_is_null_predicates: Int,
    num_having_compound_predicates: Map[String, Int],
    num_having_binary_predicates: Map[String, Int],
    num_having_function_call_exprs: Int,
    num_using_columns: Int,
    num_on_compound_predicates: Map[String, Int],
    num_on_binary_predicates: Map[String, Int],
    num_on_between_predicates: Int,
    num_on_function_call_exprs: Int)

object SqlFeatures {

  private def fromStats(tpe: String, nested: Option[String],
                        overwrite: Option[Boolean], param: Option[String],
                        s: SqlAnalyzer.Stats): SqlFeatures = SqlFeatures(
    sql_type = tpe, nested_type = nested, insert_overwrite = overwrite,
    parameterized_stmt = param,
    num_output_columns = s.numOutputColumns,
    num_from_subqueries = s.numFromSubqueries,
    num_where_subqueries = s.numWhereSubqueries,
    num_with_subqueries = s.numWithSubqueries,
    max_depth_subqueries = s.maxDepthSubqueries,
    num_group_by_columns = s.numGroupByColumns,
    num_order_by_columns = s.numOrderByColumns,
    num_limits = s.numLimits,
    num_where_compound_predicates = s.numWhereCompoundPredicates.toMap,
    num_where_binary_predicates = s.numWhereBinaryPredicates.toMap,
    num_where_like_predicates = s.numWhereLikePredicates.toMap,
    num_where_in_predicates = s.numWhereInPredicates,
    num_where_between_predicates = s.numWhereBetweenPredicates,
    num_where_exists_predicates = s.numWhereExistsPredicates,
    num_where_is_null_predicates = s.numWhereIsNullPredicates,
    num_where_function_call_exprs = s.numWhereFunctionCallExprs,
    num_where_case_exprs = s.numWhereCaseExprs,
    num_where_arithmetic_exprs = s.numWhereArithmeticExprs,
    num_where_cast_exprs = s.numWhereCastExprs,
    num_where_timestamp_arithmetic_exprs = s.numWhereTimestampArithmeticExprs,
    num_select_case_exprs = s.numSelectCaseExprs,
    num_select_arithmetic_exprs = s.numSelectArithmeticExprs,
    num_select_cast_exprs = s.numSelectCastExprs,
    num_select_function_call_exprs = s.numSelectFunctionCallExprs,
    num_select_analytic_exprs = s.numSelectAnalyticExprs,
    num_select_compound_predicates = s.numSelectCompoundPredicates.toMap,
    num_select_binary_predicates = s.numSelectBinaryPredicates.toMap,
    num_select_is_null_predicates = s.numSelectIsNullPredicates,
    num_having_compound_predicates = s.numHavingCompoundPredicates.toMap,
    num_having_binary_predicates = s.numHavingBinaryPredicates.toMap,
    num_having_function_call_exprs = s.numHavingFunctionCallExprs,
    num_using_columns = s.numUsingColumns,
    num_on_compound_predicates = s.numOnCompoundPredicates.toMap,
    num_on_binary_predicates = s.numOnBinaryPredicates.toMap,
    num_on_between_predicates = s.numOnBetweenPredicates,
    num_on_function_call_exprs = s.numOnFunctionCallExprs)

  /** J1/J5 dispatch (QueryAnalyzer.java:333-349): SELECT/UNION get full
    * stats + template; INSERT gets its nested query's stats; anything else
    * (DDL etc.) records only the statement type. Parse failures record
    * type "Unparseable" (the reference would throw). */
  def analyze(sql: String): SqlFeatures = {
    import org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement
    try {
      val plan = SqlAnalyzer.parse(sql)
      plan match {
        case ins: InsertIntoStatement =>
          val innerType = SqlAnalyzer.statementType(ins.query)
          val stats = SqlAnalyzer.statsOfQuery(ins.query)
          fromStats("InsertStmt", Some(innerType), Some(ins.overwrite),
            Some(Parameterizer.render(Parameterizer.parameterize(plan))), stats)
        case p =>
          val tpe = SqlAnalyzer.statementType(p)
          if (tpe == "SelectStmt" || tpe == "UnionStmt") {
            fromStats(tpe, None, None,
              Some(Parameterizer.render(Parameterizer.parameterize(p))),
              SqlAnalyzer.statsOfQuery(p))
          } else fromStats(tpe, None, None, None, new SqlAnalyzer.Stats)
      }
    } catch {
      // NonFatal plus StackOverflowError: a renderer StackOverflowError (an
      // Error, but a recoverable one) on one exotic statement must not kill
      // the whole attach() executor task. Genuinely fatal errors — OOM,
      // InterruptedException — must propagate, or Spark can neither fail
      // fast nor cancel the task.
      case e if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
        fromStats("Unparseable", None, None, None, new SqlAnalyzer.Stats)
    }
  }

  /** S6: attach features to the queries table (join-and-overwrite; Parquet
    * is immutable so the "update" is a rewrite). [[analyze]] runs once per
    * distinct statement text, on the executors, and its result is joined
    * back onto every row carrying that exact text: workloads repeat their
    * statements, so most rows would otherwise re-parse a statement already
    * seen. The join is null-safe so a null `stmt` still reads Unparseable,
    * and each input row comes back exactly once, even when a `query_id`
    * appears under several tags. When the statements do not repeat, the
    * `distinct` aggregate, its shuffle and the join on the statement text
    * are extra work; that cost has not been measured.
    */
  def attach(spark: SparkSession, queries: DataFrame): DataFrame = {
    import spark.implicits._
    val feats = queries.select("stmt").distinct().as[String]
      .map(s => (s, analyze(s)))
      .toDF("__stmt", "sql")
    queries.join(feats, queries("stmt") <=> feats("__stmt"), "left")
      .drop(feats("__stmt"))
      .withColumn("sql_type", col("sql.sql_type"))
  }
}
