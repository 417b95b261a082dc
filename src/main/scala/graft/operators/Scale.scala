package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-out utilities: bucketed co-located joins and salted skew
  * aggregation — the two knobs the 100 TB plan needs that small-SF tests
  * never force — plus the one way the driver runs independent Spark jobs
  * side by side ([[concurrently]]).
  */
object Scale {

  /** Driver threads [[concurrently]] runs at most: enough to keep a small
    * cluster's cores busy with many tiny jobs, few enough that large jobs
    * do not crowd each other out of the scheduler. */
  private val ConcurrentJobs = 4

  /** `xs.map(f)` with up to [[ConcurrentJobs]] elements in flight at once —
    * for independent Spark actions (fits, writes, renders), which Spark
    * plans as one job each and would otherwise run one after another while
    * most cores wait. Results come back in input order; the first failure
    * to complete is rethrown as is.
    *
    * The pool is FRESH per call: its threads are created by the calling
    * thread, so they inherit its SparkContext local properties (job group,
    * scheduler pool) and a job submitted inside `f` is accounted to, and
    * cancellable with, the caller's group. A long-lived shared pool would
    * keep the properties of whichever thread first started its workers.
    *
    * `shutdownNow`, not `shutdown`, in the `finally`: when one element
    * fails, the caller's own `finally` (typically an unpersist of the input
    * every element shares) runs right away, and plain shutdown would let
    * the queued elements keep running on non-daemon threads after it, each
    * recomputing that input from source. shutdownNow drops the queue and
    * interrupts; on success every element is complete and it is equivalent
    * to shutdown. */
  def concurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.isEmpty) return Seq.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(ConcurrentJobs, xs.size))
    try {
      val done = new java.util.concurrent.ExecutorCompletionService[B](pool)
      val futures = xs.map(x => done.submit(() => f(x)))
      xs.foreach { _ =>
        try done.take().get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } finally { pool.shutdownNow(); () }
  }

  /** Repartition up to the session's default parallelism when the
    * upstream plan has FEWER partitions — the small-input/few-files case
    * where a scan-stage-heavy pipeline (explode + hashing, tokenization)
    * would otherwise serialize on one or two tasks: a single-row-group
    * parquet file is ONE split no matter what `maxPartitionBytes` says,
    * and AQE only rebalances AFTER a shuffle, never a scan stage.
    * Measured on the sf10-equivalent corpus (one 5-row-group file,
    * 32 cores): the LM-scored-frame build dropped 23.3 → 5.0 s once its
    * explode ran 32-wide. At production scale input splits outnumber
    * cores and this is a NO-OP — the partition probe reads plan metadata
    * only, it never launches a job; the repartition, when it does fire,
    * shuffles the NARROW pre-explode rows (shuffle cost is bounded by
    * the input, not the exploded output).
    *
    * The probe is gated on the physical plan being EXCHANGE-free (and
    * free of plan subqueries): with AQE enabled, `Dataset.rdd` on a plan
    * containing exchanges forces `getFinalPhysicalPlan`, which eagerly
    * materializes the upstream shuffle stages — real Spark jobs whose
    * results are discarded, so the upstream would run TWICE once the
    * returned frame executes. A plan that already shuffles doesn't need
    * this valve anyway (AQE coalesces/rebalances post-shuffle at
    * runtime), so skipping it loses nothing. */
  def balanceToCores(df: DataFrame): DataFrame = {
    // streaming frames have no static partition count to probe (`.rdd`
    // throws) and micro-batch sizing is the source's job — pass through
    if (df.isStreaming) return df
    val plan = df.queryExecution.sparkPlan
    val hasExchange = plan.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case p => p.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    }
    if (hasExchange) return df
    val dp = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < dp) df.repartition(dp) else df
  }

  /** Write both sides bucketed by the join key (sorted within buckets) as
    * managed tables, so subsequent equi-joins on that key are co-located:
    * no Exchange on either side of the SortMergeJoin. The 100 TB pattern
    * for repeated fact-fact joins. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Bucket-join two managed bucketed tables on `key`; caller can verify
    * the plan has no shuffle (see ScaleSpec). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Two-phase salted aggregation for skewed grouping keys: spread each hot
    * key over `salts` sub-groups with a deterministic per-row salt, partial
    * aggregate on (key, salt), then final-aggregate on key. Turns one
    * straggler reducer into `salts` balanced ones; results identical to the
    * direct groupBy for any decomposable aggregate whose partial results
    * re-combine with the supplied `combine` function — sum/count re-combine
    * with `sum` (the default); pass `min`/`max` per measure for those.
    *
    * `saltBy` must vary within a key group (any high-cardinality column). */
  def saltedAgg(df: DataFrame, key: Seq[String], saltBy: Column, salts: Int,
                aggs: Seq[(String, Column, Column => Column)]): DataFrame = {
    // salts = 0 would not error: pmod(x, 0) is null without ANSI, silently
    // collapsing every key into one (key, null) group — fail at call time
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(aggs.nonEmpty, "saltedAgg needs at least one aggregate")
    require(!df.columns.contains("__salt"),
      "input already has a __salt column — rename it before salting")
    val salted = df.withColumn("__salt", pmod(hash(saltBy), lit(salts)))
    val partial = salted
      .groupBy((key.map(col) :+ col("__salt")): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c, _) => c.as(n) }: _*)
    partial.groupBy(key.map(col): _*)
      .agg(aggs.head._3(col(aggs.head._1)).as(aggs.head._1),
        aggs.tail.map { case (n, _, comb) => comb(col(n)).as(n) }: _*)
  }

  /** [[saltedAgg]] specialized to sum-recombined partials (sum/count). */
  def saltedSum(df: DataFrame, key: Seq[String], saltBy: Column, salts: Int,
                sums: Seq[(String, Column)]): DataFrame =
    saltedAgg(df, key, saltBy, salts,
      sums.map { case (n, c) => (n, c, (p: Column) => sum(p)) })

  /** Salted equi-join for skewed join keys — the manual valve when AQE's
    * runtime skew split can't help (e.g. the skewed side feeds a
    * co-partitioned downstream op, or the planner picked SMJ before stats
    * existed). The big (skewed) side gets a deterministic per-row salt in
    * [0, salts); the small side is replicated `salts` times via an inline
    * explode; both join on (key, salt), spreading each hot key over
    * `salts` reducers. Results are EXACTLY the rows of the plain join —
    * every big-side row meets every matching small-side row exactly once,
    * for any join-key multiplicity on either side — at the cost of
    * shuffling the small side `salts`×. Inner and left_outer are
    * supported (right/full would need the salt on the other side).
    *
    * `saltBy` must vary within a key group (any high-cardinality big-side
    * column); at 100 TB pick `salts` ≈ hot-key rows / healthy-partition
    * rows. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: Seq[String],
                 saltBy: Column, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer" || joinType == "left",
      s"saltedJoin supports inner/left joins, got $joinType")
    // salts = 0: pmod null on the big side vs sequence(0,-1) = [0,-1] on
    // the small — an inner join silently returns ZERO rows; fail instead
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(!big.columns.contains("__salt") && !small.columns.contains("__salt"),
      "input already has a __salt column — rename it before salting")
    val bigS = big.withColumn("__salt", pmod(hash(saltBy), lit(salts)))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, key :+ "__salt", joinType).drop("__salt")
  }
}
