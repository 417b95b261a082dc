package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{ChartRender, ChartTables}
import graft.ingest.ProfileIngest
import graft.ml.Clustering
import graft.sqlstats.SqlFeatures

/** The one-command driver — the Spark-native equivalent of the reference's
  * `driver.sh tag inputDir outputDir` (reference code/driver.sh:1-17), which
  * chains: per-file profile ingest → the Java query_analyzer SQL pass →
  * aggs/joins/stats figures → clustering. Here the whole chain is ONE Spark
  * application over one SparkSession:
  *
  *  1. ingest    — decode+parse every dump line in `inDir` into the three
  *                 Parquet model tables under `outDir/model` (S1-S4);
  *  2. sqlstats  — attach the J1-J5 SQL feature struct to this run's
  *                 queries, analyzing each distinct statement text once
  *                 and joining the features back by that text, written to
  *                 `outDir/queries_with_sql` (S6);
  *  3. analytics — build every chart-input table once (R-series
  *                 aggregations, S8 scope), write them concurrently under
  *                 `outDir/charts`, and render each written table to
  *                 `outDir/figures/<name>.svg`, again concurrently;
  *  4. ml        — elbow sweep + final cluster profile under
  *                 `outDir/clusters` (M1-M4).
  *
  * Stages share the session and the ingested DataFrames — no re-reads of the
  * raw dump, no per-file subprocesses. At 100 TB each stage is a declarative
  * plan over the tag-pruned model tables, so the chain scales with the
  * cluster rather than with driver orchestration.
  */
object Pipeline {

  /** What a run produced — row counts per stage plus where everything went
    * (returned so callers/specs can assert without re-listing the FS). */
  case class RunSummary(
      tag: String,
      outDir: String,
      nQueries: Long,
      nOperators: Long,
      nFragments: Long,
      nSelectLike: Long,
      chartTables: Seq[String],
      elbowKs: Seq[Int],
      finalK: Option[Int])

  /** Run the full chain. `outDir` may already hold earlier tags (ingest is
    * append + idempotent per query_id); analytics and clustering run over
    * THIS run's tag only, mirroring the reference's per-tag filters
    * (stats.py:18-20, clustering.py's tag query). */
  def run(spark: SparkSession, tag: String, inDir: String, outDir: String,
          elbowKs: Seq[Int] = 1 to 10, finalK: Int = 10): RunSummary = {
    // 1. ingest (S1-S4): all dump files under inDir, one Spark job
    val model = ProfileIngest.ingestToParquet(spark, inDir, s"$outDir/model", tag)
    // restrict every downstream stage to this run's tag; operators and
    // fragments carry no tag, so they prune via semi-join on the tag's
    // query ids (broadcast-sized: it's one tag's worth of 16-byte ids)
    val tagQueries = model.queries.filter(col("tag") === tag)
    val tagIds = tagQueries.select("query_id")
    val t = ProfileIngest.ProfileTables(
      tagQueries,
      model.operators.join(broadcast(tagIds), Seq("query_id"), "left_semi"),
      model.fragments.join(broadcast(tagIds), Seq("query_id"), "left_semi"))

    // 2. SQL features (J1-J5 via S6): analyze once per distinct statement,
    // join back by statement text, rewrite
    val withSql = SqlFeatures.attach(spark, t.queries)
    withSql.write.mode("overwrite").parquet(s"$outDir/queries_with_sql")
    val withSqlBack = spark.read.parquet(s"$outDir/queries_with_sql")

    // 3. chart-input tables (S8): everything the reference's
    // aggs/joins/stats figures need, plus rendered SVG figures (the
    // matplotlib-PNG equivalent, reference code/python/plots.py:7-85).
    // Built once, written side by side, and rendered from the written
    // one-file tables, so no table's lineage runs more than once (the
    // known schema spares each read-back a schema-inference job).
    val charts = ChartTables.all(t, Some(withSqlBack))
    ChartTables.write(charts, s"$outDir/charts")
    ChartRender.renderAll(charts.map { case (name, df) =>
      name -> spark.read.schema(df.schema).parquet(s"$outDir/charts/$name")
    }, s"$outDir/figures")

    // 4. clustering (M1-M4) over Select/Union statements
    val feats = Clustering.featureColumns(withSqlBack)
    val nSelect = feats.count()
    val ks = elbowKs.filter(_ <= nSelect)
    val (ranKs, ranFinalK) =
      if (nSelect >= 2) {
        val scaled = Clustering.assembleAndScale(feats)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          import spark.implicits._
          Clustering.elbow(scaled, ks).toDF("k", "wcss", "pct_variance_explained")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/clusters/elbow")
          // spark.ml KMeans needs k >= 2; never ask for more clusters than rows
          val k = math.max(2, math.min(finalK, nSelect.toInt))
          Clustering.finalClusters(scaled, k)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/clusters/final")
          (ks, Some(k))
        } finally { scaled.unpersist(); () }
      } else (Seq.empty[Int], None) // nothing clusterable (e.g. all-DDL tag)

    RunSummary(tag, outDir, tagQueries.count(), t.operators.count(),
      t.fragments.count(), nSelect, charts.keys.toSeq.sorted, ranKs, ranFinalK)
  }

  /** `runMain graft.Pipeline <tag> <inDir> <outDir>` — argument order as in
    * reference driver.sh. */
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.Pipeline <tag> <inDir> <outDir>")
    val Array(tag, inDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val s = run(spark, tag, inDir, outDir)
      println(s"PIPELINE tag=${s.tag} out=${s.outDir} queries=${s.nQueries} " +
        s"operators=${s.nOperators} fragments=${s.nFragments} " +
        s"select_like=${s.nSelectLike} charts=${s.chartTables.size} " +
        s"elbow_ks=${s.elbowKs.mkString(",")} final_k=${s.finalK.getOrElse(-1)}")
    } finally spark.stop()
  }
}
