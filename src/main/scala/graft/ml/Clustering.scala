package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Scale

/** M1-M4 (SURVEY.md §2.5; reference code/python/clustering.py): workload
  * clustering over the 10-dim syntactic feature vector.
  *
  * spark.ml replaces scikit-learn: VectorAssembler + StandardScaler(withMean)
  * + KMeans. The reference's `n_init=20` restarts are largely subsumed by
  * KMeans|| initialization; we keep a fixed seed for reproducibility.
  * Everything is a Pipeline over DataFrames — fit/transform distribute, no
  * driver-side sample matrix.
  */
object Clustering {

  /** M1 (clustering.py:20-61): the 10 feature columns from queries with
    * attached `sql` struct (graft.sqlstats.SqlFeatures.attach output),
    * filtered to Select/Union statements (R1). Map-valued counters are
    * summed with `aggregate(map_values(...))`. */
  def featureColumns(df: DataFrame): DataFrame = {
    def mapSum(c: String) =
      aggregate(map_values(col(s"sql.$c")), lit(0), (acc, x) => acc + x)
    df.filter(col("sql.sql_type").isin("SelectStmt", "UnionStmt"))
      .select(
        col("query_id"),
        col("num_tables").cast("double").as("f_num_tables"),
        (col("sql.num_from_subqueries") + col("sql.num_where_subqueries") +
          col("sql.num_with_subqueries")).cast("double").as("f_subqueries"),
        col("sql.max_depth_subqueries").cast("double").as("f_max_depth"),
        col("sql.num_group_by_columns").cast("double").as("f_group_by"),
        col("sql.num_order_by_columns").cast("double").as("f_order_by"),
        col("sql.num_limits").cast("double").as("f_limits"),
        (col("sql.num_where_in_predicates") + col("sql.num_where_between_predicates") +
          col("sql.num_where_exists_predicates") + col("sql.num_where_is_null_predicates") +
          mapSum("num_where_binary_predicates") + mapSum("num_where_like_predicates") +
          mapSum("num_having_binary_predicates") + col("sql.num_using_columns") +
          mapSum("num_on_binary_predicates") + col("sql.num_on_between_predicates"))
          .cast("double").as("f_predicates"),
        (col("sql.num_where_function_call_exprs") + col("sql.num_where_case_exprs") +
          col("sql.num_where_arithmetic_exprs") + col("sql.num_where_cast_exprs") +
          col("sql.num_where_timestamp_arithmetic_exprs") +
          col("sql.num_having_function_call_exprs") + col("sql.num_on_function_call_exprs"))
          .cast("double").as("f_where_exprs"),
        (col("sql.num_select_case_exprs") + col("sql.num_select_arithmetic_exprs") +
          col("sql.num_select_cast_exprs") + col("sql.num_select_function_call_exprs") +
          col("sql.num_select_analytic_exprs")).cast("double").as("f_select_exprs"),
        (mapSum("num_select_binary_predicates") + col("sql.num_select_is_null_predicates"))
          .cast("double").as("f_select_predicates"))
  }

  val FeatureNames: Array[String] = Array(
    "f_num_tables", "f_subqueries", "f_max_depth", "f_group_by", "f_order_by",
    "f_limits", "f_predicates", "f_where_exprs", "f_select_exprs",
    "f_select_predicates")

  /** M1+M2: assemble + zero-mean/unit-variance scale. */
  def assembleAndScale(features: DataFrame): DataFrame = {
    val assembled = new VectorAssembler()
      .setInputCols(FeatureNames).setOutputCol("features_raw")
      .transform(features)
    new StandardScaler()
      .setInputCol("features_raw").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
      .fit(assembled).transform(assembled)
  }

  /** M3 (clustering.py:67-81): elbow sweep — WCSS (KMeans training cost)
    * per k, plus BSS/TSS% variance explained. Returns (k, wcss, pct).
    *
    * The K fits are INDEPENDENT jobs over the same input, so they run
    * concurrently ([[Scale.concurrently]] — Spark's scheduler interleaves
    * their stages across the executors; sequential fits would serialize the
    * ~|ks| jobs of the reference workflow). The input is persisted once and
    * shared by every fit; we only unpersist what we persisted, so a
    * caller-cached input is left alone. */
  def elbow(scaled: DataFrame, ks: Seq[Int], seed: Long = 42L): Seq[(Int, Double, Double)] = {
    val ownPersist = scaled.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownPersist) scaled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // TSS = sum of squared distances to the global centroid; with
      // standardized features the global centroid is 0, so TSS = sum of
      // squared norms = n * dim (up to sampling-variance normalization).
      val tss = {
        import org.apache.spark.ml.linalg.Vector
        scaled.select("features").rdd
          .map(_.getAs[Vector](0).toArray.map(x => x * x).sum).sum()
      }
      def wcssOf(k: Int): Double =
        // spark.ml requires k >= 2; for k=1 the single centroid is the global
        // mean (origin after standardization), so WCSS = TSS exactly
        if (k == 1) tss else
          new KMeans().setK(k).setMaxIter(500).setSeed(seed)
            .setFeaturesCol("features").fit(scaled).summary.trainingCost
      // a failed fit stops the queued ones before the finally below
      // unpersists their shared input (see Scale.concurrently)
      val wcsss = Scale.concurrently(ks)(k => k -> wcssOf(k))
      // tss = 0 on degenerate input (every feature vector identical ->
      // standardized to the origin): wcss is 0 too and 0/0 would emit NaN
      // into the elbow table — report 100% explained instead
      wcsss.map { case (k, wcss) =>
        (k, wcss, if (tss == 0.0) 100.0 else (tss - wcss) / tss * 100.0)
      }
    } finally if (ownPersist) { scaled.unpersist(); () }
  }

  /** M4 (clustering.py:83-92): final clustering at K — per-cluster size and
    * per-dimension UNSCALED mean vector. */
  def finalClusters(scaled: DataFrame, k: Int = 10, seed: Long = 42L): DataFrame = {
    val model = new KMeans().setK(k).setMaxIter(500).setSeed(seed)
      .setFeaturesCol("features").fit(scaled)
    val aggCols = count(lit(1)).as("size") +:
      FeatureNames.map(f => avg(col(f)).as(s"avg_$f")).toSeq
    model.transform(scaled)
      .groupBy(col("prediction"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(col("prediction"))
  }
}
