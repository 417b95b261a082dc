package graft

import graft.sqlstats.{Parameterizer, SqlAnalyzer, SqlFeatures}

/** J1-J5: syntactic feature extraction + parameterization over a fixed
  * corpus (SURVEY §5 test plan item 4). */
class SqlStatsSpec extends SparkSpec {

  test("simple select") {
    val f = SqlFeatures.analyze("SELECT a, b FROM t WHERE a = 1 AND b < 2 LIMIT 10")
    assert(f.sql_type === "SelectStmt")
    assert(f.num_output_columns === 2)
    assert(f.num_limits === 1)
    assert(f.num_where_compound_predicates("AND") === 1)
    assert(f.num_where_binary_predicates("EQ") === 1)
    assert(f.num_where_binary_predicates("LT") === 1)
    assert(f.num_where_binary_predicates("GT") === 0) // zero-seeded maps
  }

  test("star select") {
    val f = SqlFeatures.analyze("SELECT * FROM t")
    assert(f.num_output_columns === -1)
  }

  test("group by / order by / having") {
    val f = SqlFeatures.analyze(
      """SELECT a, count(*), sum(b + 1) FROM t
        |GROUP BY a, c HAVING count(*) > 5 ORDER BY a DESC, b""".stripMargin)
    assert(f.num_group_by_columns === 2)
    assert(f.num_order_by_columns === 2)
    assert(f.num_select_function_call_exprs === 2)
    assert(f.num_select_arithmetic_exprs === 1)
    assert(f.num_having_binary_predicates("GT") === 1)
    assert(f.num_having_function_call_exprs === 1)
  }

  test("where-side features: like, in, between, exists, null, case, cast") {
    val f = SqlFeatures.analyze(
      """SELECT a FROM t WHERE
        |  name LIKE 'x%' OR name RLIKE 'y.*'
        |  OR a IN (1, 2, 3)
        |  OR b BETWEEN 1 AND 10
        |  OR c IS NULL OR d IS NOT NULL
        |  OR CAST(e AS INT) = 1
        |  OR CASE WHEN f > 0 THEN 1 ELSE 0 END = 1
        |  OR length(g) > 2""".stripMargin)
    assert(f.num_where_like_predicates("LIKE") === 1)
    assert(f.num_where_like_predicates("RLIKE") === 1)
    assert(f.num_where_in_predicates === 1)
    assert(f.num_where_between_predicates === 1)
    assert(f.num_where_is_null_predicates === 2)
    assert(f.num_where_cast_exprs === 1)
    assert(f.num_where_case_exprs === 1)
    assert(f.num_where_function_call_exprs === 1)
    // the BETWEEN rewrite's AND/GE/LE are NOT double-counted
    assert(f.num_where_compound_predicates("OR") === 8)
    assert(f.num_where_binary_predicates("GE") === 0)
  }

  test("subqueries: from, where, with, depth") {
    val f = SqlFeatures.analyze(
      """WITH v AS (SELECT x FROM u)
        |SELECT a FROM (SELECT a FROM s WHERE a IN (SELECT z FROM zz)) sub
        |WHERE EXISTS (SELECT 1 FROM w)""".stripMargin)
    assert(f.num_with_subqueries === 1)
    assert(f.num_from_subqueries === 1)
    // EXISTS counts both exists and where-subquery; inner IN-subquery adds
    // another where-subquery at the nested level
    assert(f.num_where_exists_predicates === 1)
    assert(f.num_where_subqueries === 2)
    assert(f.max_depth_subqueries === 2) // outer (from+where) + inner (where)
  }

  test("union semantics: output columns from last operand, order/limit at union level") {
    val f = SqlFeatures.analyze(
      "SELECT a, b FROM t UNION ALL SELECT c, d FROM u ORDER BY 1 LIMIT 5")
    assert(f.sql_type === "UnionStmt")
    assert(f.num_output_columns === 2)
    assert(f.num_order_by_columns === 1)
    assert(f.num_limits === 1)
  }

  test("join features: on clause and using columns") {
    val f = SqlFeatures.analyze(
      """SELECT a FROM t JOIN u ON t.id = u.id AND t.x > u.y
        |JOIN v USING (k1, k2)""".stripMargin)
    assert(f.num_on_binary_predicates("EQ") === 1)
    assert(f.num_on_binary_predicates("GT") === 1)
    assert(f.num_on_compound_predicates("AND") === 1)
    assert(f.num_using_columns === 2)
  }

  test("window and timestamp arithmetic") {
    val f = SqlFeatures.analyze(
      """SELECT rank() OVER (PARTITION BY a ORDER BY b), c
        |FROM t WHERE ts > now() - INTERVAL 1 DAY""".stripMargin)
    assert(f.num_select_analytic_exprs === 1)
    assert(f.num_where_timestamp_arithmetic_exprs === 1)
    assert(f.num_where_arithmetic_exprs === 0)
  }

  test("insert statement flattens nested select") {
    val f = SqlFeatures.analyze(
      "INSERT INTO target SELECT a, b FROM src WHERE a = 1")
    assert(f.sql_type === "InsertStmt")
    assert(f.nested_type === Some("SelectStmt"))
    assert(f.insert_overwrite === Some(false))
    assert(f.num_output_columns === 2)
    assert(f.num_where_binary_predicates("EQ") === 1)
  }

  test("DDL records only the type (J5)") {
    val f = SqlFeatures.analyze("CREATE TABLE t (x INT)")
    assert(f.sql_type !== "SelectStmt")
    assert(f.parameterized_stmt === None)
    val bad = SqlFeatures.analyze("THIS IS NOT SQL AT ALL")
    assert(bad.sql_type === "Unparseable")
  }

  test("parameterization: same template for literal/identifier changes") {
    val t1 = Parameterizer.parameterizeSql(
      "SELECT name, age FROM people WHERE age > 30 AND city = 'rome' LIMIT 10")
    val t2 = Parameterizer.parameterizeSql(
      "SELECT nome, eta FROM persone WHERE eta > 99 AND citta = 'oslo' LIMIT 99")
    assert(t1 === t2)
    val t3 = Parameterizer.parameterizeSql(
      "SELECT name FROM people WHERE age > 30 OR city = 'rome'")
    assert(t1 !== t3)
  }

  test("parameterization: select-list literals and aliases normalize") {
    // regression: alias-stripping inside the transform skipped literal
    // rewrite (transformDown doesn't re-apply rules to a rule's output)
    val a = Parameterizer.parameterizeSql("SELECT 5 AS x, name FROM t")
    val b = Parameterizer.parameterizeSql("SELECT 99 AS y, other FROM u")
    assert(a === b)
    assert(!a.contains("5") || a.contains("?"))
  }

  test("parameterization: joins and subqueries fingerprint structurally") {
    val a = Parameterizer.parameterizeSql(
      "SELECT x FROM t JOIN u ON t.id = u.id WHERE t.k IN (SELECT k FROM v WHERE n = 5)")
    val b = Parameterizer.parameterizeSql(
      "SELECT y FROM p JOIN q ON p.pk = q.fk WHERE p.c IN (SELECT c2 FROM w WHERE m = 9)")
    assert(a === b)
    assert(a.contains("IN (SELECT"))
  }

  test("parameterization: INTERSECT/EXCEPT render without blowing the stack") {
    // regression: render/renderFrom had no SetOperation case and bounced the
    // node back and forth until StackOverflowError
    val i = Parameterizer.parameterizeSql("SELECT a FROM t INTERSECT SELECT a FROM u")
    assert(i === "SELECT ? FROM ? INTERSECT SELECT ? FROM ?")
    val e = Parameterizer.parameterizeSql("SELECT a FROM t EXCEPT ALL SELECT a FROM u")
    assert(e === "SELECT ? FROM ? EXCEPT ALL SELECT ? FROM ?")
    // identifiers/literals still fingerprint structurally through the set op
    assert(Parameterizer.parameterizeSql("SELECT x FROM p WHERE x > 5 INTERSECT SELECT y FROM q")
      === Parameterizer.parameterizeSql("SELECT z FROM r WHERE z > 99 INTERSECT SELECT w FROM s"))
  }

  test("set operation nested in a FROM subquery analyzes (judge repro)") {
    // the root is a SelectStmt so the renderer runs over the nested Intersect;
    // this used to StackOverflow and — being an Error — escape analyze's catch
    val f = SqlFeatures.analyze(
      "SELECT x FROM (SELECT a AS x FROM t INTERSECT SELECT b FROM u) v")
    assert(f.sql_type === "SelectStmt")
    assert(f.parameterized_stmt.exists(_.contains("INTERSECT")))
    val g = SqlFeatures.analyze(
      "SELECT x FROM (SELECT a AS x FROM t EXCEPT SELECT b FROM u) v")
    assert(g.sql_type === "SelectStmt")
    assert(g.parameterized_stmt.exists(_.contains("EXCEPT")))
  }

  test("Impala dialect: plan hints and STRAIGHT_JOIN produce full feature vectors") {
    // the reference parses with Impala's own frontend, so hinted statements
    // must not collapse to Unparseable (QueryAnalyzer.java:335-337)
    val f = SqlFeatures.analyze(
      "SELECT STRAIGHT_JOIN a FROM t JOIN [broadcast] u ON t.id = u.id WHERE a = 1")
    assert(f.sql_type === "SelectStmt")
    assert(f.num_on_binary_predicates("EQ") === 1)
    assert(f.num_where_binary_predicates("EQ") === 1)
    val g = SqlFeatures.analyze(
      "SELECT a FROM t JOIN /* +shuffle */ u ON t.id = u.id JOIN [SORTBY(x, y)] v ON u.k = v.k")
    assert(g.sql_type === "SelectStmt")
    assert(g.num_on_binary_predicates("EQ") === 2)
    val h = SqlFeatures.analyze("INSERT INTO tgt [shuffle] SELECT x FROM src")
    assert(h.sql_type === "InsertStmt")
    assert(h.nested_type === Some("SelectStmt"))
    // hinted statements share a fingerprint with their unhinted form
    assert(Parameterizer.parameterizeSql("SELECT a FROM t JOIN [broadcast] u ON t.id = u.id")
      === Parameterizer.parameterizeSql("SELECT a FROM t JOIN u ON t.id = u.id"))
  }

  test("hint stripping is quote-aware: literals containing hint tokens survive") {
    // an unterminated /*+ inside a literal must NOT strip through the next
    // real */ (that would corrupt the statement's quoting)
    assert(SqlAnalyzer.stripImpalaHints(
      "SELECT '/*+ broken' AS s FROM t WHERE x = 'done */'")
      === "SELECT '/*+ broken' AS s FROM t WHERE x = 'done */'")
    // hint-shaped tokens inside literals and quoted identifiers pass through
    assert(SqlAnalyzer.stripImpalaHints("SELECT 'use [shuffle] here' FROM t")
      === "SELECT 'use [shuffle] here' FROM t")
    assert(SqlAnalyzer.stripImpalaHints("SELECT `straight_join` FROM t")
      === "SELECT `straight_join` FROM t")
    assert(SqlAnalyzer.stripImpalaHints("SELECT 'no straight_join here' FROM t")
      === "SELECT 'no straight_join here' FROM t")
    // a quote INSIDE a comment hint is inert — the whole hint still strips
    assert(SqlAnalyzer.stripImpalaHints("SELECT /*+ it's a hint */ a FROM t")
      === "SELECT   a FROM t")
    // backslash-escaped quote doesn't close the literal early
    assert(SqlAnalyzer.stripImpalaHints("SELECT 'a\\'[shuffle]' FROM t")
      === "SELECT 'a\\'[shuffle]' FROM t")
    // real hints outside quotes still strip, literals beside them intact
    val f = SqlFeatures.analyze(
      "SELECT STRAIGHT_JOIN a FROM t JOIN [broadcast] u ON t.id = u.id WHERE s = '[shuffle]'")
    assert(f.sql_type === "SelectStmt")
    assert(f.num_where_binary_predicates("EQ") === 1)
  }

  test("attach joins features onto the queries table") {
    // one row per input row and every input column unchanged; each `sql`
    // struct equals analyze() of the row's exact text
    import spark.implicits._
    val repeated = "SELECT a, count(*) FROM t WHERE a IN (1, 2) GROUP BY a"
    val rows: Seq[(String, String, String, Int)] =
      (1 to 12).map(i => (s"r$i", "t1", repeated, i)) ++ Seq(
        ("ins", "t1", "INSERT OVERWRITE TABLE x SELECT b FROM u WHERE b > 2", 13),
        ("ddl", "t1", "CREATE TABLE t (x INT)", 14),
        ("cs", "t1", "COMPUTE STATS db.t", 15),
        ("junk", "t1", "THIS IS NOT SQL AT ALL", 16),
        ("nul", "t1", null, 17),
        // differ only in case / whitespace: analyzed as two texts
        ("lo", "t1", "select a from t where a = 1", 18),
        ("up", "t1", "SELECT a FROM t WHERE a = 1", 19),
        ("ws", "t1", "SELECT a  FROM t WHERE a = 1", 20))
    val queries = rows.toDF("query_id", "tag", "stmt", "n")
    val out = SqlFeatures.attach(spark, queries)
    assert(out.columns.toSeq === queries.columns.toSeq ++ Seq("sql", "sql_type"))
    assert(out.count() === rows.size)
    val back = out.select("query_id", "tag", "stmt", "n", "sql", "sql_type")
      .as[(String, String, String, Int, SqlFeatures, String)].collect()
    assert(back.map(r => (r._1, r._2, r._3, r._4)).sortBy(_._1).toSeq === rows.sortBy(_._1))
    back.foreach { case (qid, _, stmt, _, sql, tpe) =>
      assert(sql === SqlFeatures.analyze(stmt), qid)
      assert(tpe === sql.sql_type, qid)
    }
    val types = back.map(r => r._1 -> r._6).toMap
    assert(types("nul") === "Unparseable")
    assert(types("cs") === "Unparseable")
    assert(types("junk") === "Unparseable")
    assert(types("ins") === "InsertStmt")
    assert(types("r1") === "SelectStmt")
  }

  test("attach returns each row once when a query_id appears under two tags") {
    import spark.implicits._
    // a dump re-ingested under a second tag: same query_id, same payload
    val queries = Seq(
      ("q1", "a", "SELECT a FROM t WHERE a = 1"),
      ("q1", "b", "SELECT a FROM t WHERE a = 1"),
      ("q2", "a", "CREATE TABLE t (x INT)")
    ).toDF("query_id", "tag", "stmt")
    val out = SqlFeatures.attach(spark, queries)
    assert(out.count() === queries.count())
    val ddl = SqlFeatures.analyze("CREATE TABLE t (x INT)").sql_type
    assert(out.select("query_id", "tag", "sql_type").as[(String, String, String)]
      .collect().sorted.toSeq === Seq(
        ("q1", "a", "SelectStmt"), ("q1", "b", "SelectStmt"), ("q2", "a", ddl)))
  }

  test("attach analyzes above an aggregate keyed on stmt, never per row") {
    import org.apache.spark.sql.execution.MapElementsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import spark.implicits._
    object Plans extends AdaptiveSparkPlanHelper
    val queries = (1 to 20).map(i => (s"q$i", s"SELECT a FROM t WHERE a = ${i % 3}"))
      .toDF("query_id", "stmt")
    val out = SqlFeatures.attach(spark, queries)
    out.collect()
    val plan = out.queryExecution.executedPlan
    val maps = Plans.collect(plan) { case m: MapElementsExec => m }
    assert(maps.size === 1, plan)
    val stmtAggs = Plans.collect(maps.head) {
      case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("stmt") => a
    }
    assert(stmtAggs.nonEmpty, s"analyze must map the distinct statements:\n$plan")
  }
}
