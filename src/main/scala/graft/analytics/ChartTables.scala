package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ingest.ProfileIngest.ProfileTables
import graft.operators.Scale

/** S8 (SURVEY.md §2.1): the reference renders ~30 matplotlib PNGs; the
  * engine-scope equivalent is the aggregated chart-INPUT tables, emitted as
  * small Parquet tables (plot with any front-end). Binning reproduces
  * plots.py:23-59: step = max(1, (max-min)/10) for integer measures, dense
  * integer range for bar charts.
  */
object ChartTables {

  /** plots.py hist: fixed 10-bin histogram of a measure with the
    * reference's integer step rule. Single pass for bounds (1-row agg,
    * broadcast) + single pass for counts. */
  def referenceHist(df: DataFrame, x: Column, integerSteps: Boolean = true): DataFrame = {
    val bounds = df.agg(min(x).as("lo"), max(x).as("hi"))
    val step =
      if (integerSteps) greatest(lit(1L), ((col("hi") - col("lo")) / 10L).cast("long"))
      // degenerate all-equal measure: any positive step puts every row in
      // bin 0 (ANSI mode would throw on the /0 otherwise)
      else when(col("hi") === col("lo"), lit(1.0))
        .otherwise((col("hi") - col("lo")) / lit(10.0))
    df.crossJoin(broadcast(bounds))
      .groupBy(floor((x - col("lo")) / step).cast("long").as("bin"),
        (col("lo") + floor((x - col("lo")) / step) * step).as("bin_lo"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bin")
  }

  /** All chart-input tables the reference's stats/joins/aggs figures need
    * (queries must carry the attached `sql` struct for the type roll-up). */
  def all(t: ProfileTables, queriesWithSql: Option[DataFrame] = None): Map[String, DataFrame] = {
    val joinStats = WorkloadAnalytics.queryJoinStats(t.queries, t.operators)
    val breakdown = WorkloadAnalytics.operatorTimeBreakdown(t.queries, t.operators, t.fragments)
    val nQueries = t.queries.count()
    val base = Map(
      "num_joins_hist" -> referenceHist(joinStats, col("num_joins")),
      "num_broadcast_joins_hist" -> referenceHist(joinStats, col("num_broadcast_joins")),
      "num_partitioned_joins_hist" -> referenceHist(joinStats, col("num_partitioned_joins")),
      "num_inner_joins_hist" -> referenceHist(joinStats, col("num_inner_joins")),
      "num_tables_hist" -> referenceHist(joinStats, col("num_tables")),
      "num_hdfs_scans_hist" -> referenceHist(joinStats, col("num_hdfs_scans")),
      "hdfs_scan_mb_hist" -> referenceHist(joinStats, col("scan_mb")),
      "runtime_seconds" -> t.queries.select(col("query_id"),
        expr("runtime DIV 1000000000").as("runtime_s")),
      "operator_time_matrix" -> WorkloadAnalytics.operatorTimeMatrix(breakdown, nQueries),
      "join_correctness" -> WorkloadAnalytics.joinAuditSummary(
        WorkloadAnalytics.joinAudit(t.operators)),
      "pre_agg_reduction_hist" -> referenceHist(
        WorkloadAnalytics.preAggReduction(t.operators), col("reduction"),
        integerSteps = false),
      "concurrency" -> WorkloadAnalytics.queryConcurrency(t.queries),
      "straggler_ops" -> WorkloadAnalytics.stragglers(t.queries, t.operators))
    base ++ queriesWithSql.map(q =>
      "query_type_rollup" -> WorkloadAnalytics.workloadRollup(q)).toMap
  }

  /** Emit every chart-input table under `outDir/<name>` (Parquet). */
  def writeAll(t: ProfileTables, outDir: String,
               queriesWithSql: Option[DataFrame] = None): Unit =
    write(all(t, queriesWithSql), outDir)

  /** Write each table as one Parquet file under `outDir/<name>`, the
    * tables' independent jobs side by side. One file keeps a sorted
    * table's row order for readers that take its first rows. */
  def write(charts: Map[String, DataFrame], outDir: String): Unit = {
    Scale.concurrently(charts.toSeq.sortBy(_._1)) { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    ()
  }
}
