package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

import graft.{Bench, Pipeline, SparkEntry}
import graft.analytics.{ChartRender, ChartTables}
import graft.ingest.{ProfileIngest, ProfileParser}
import graft.ml.Clustering
import graft.sqlstats.SqlFeatures

/** One benchmark run: one workload in a fresh JVM, closed loop (one client;
  * the next operation starts when the previous one returns).
  *
  * `--trace 0` times untraced operations and reports the end-to-end metrics.
  * `--trace 1` makes the same set-up, then the operations of the [[Round]]s
  * Layers, Check, Warmup, Untraced and Traced, and reports the per-layer
  * metrics. Stdout carries two tagged lines: `PERFBENCH-FP <json>` (every
  * output fingerprint) and, last, `PERFBENCH <json>`.
  */
object Main {

  sealed trait Workload
  /** One cold `Pipeline.run` over a generated profile dump. */
  final case class PipelineWorkload(params: ProfileGen.Params) extends Workload
  /** One fixed-order pass over declared queries on generated fixture tables;
    * one query is one operation. */
  final case class OpsWorkload(scale: Double, queries: Seq[String]) extends Workload

  /** Why each workload exists is in README.md next to this file. */
  val workloads: Map[String, Workload] = Map(
    "dashboard" -> PipelineWorkload(ProfileGen.Params(lines = 4000, distinctStatements = 200,
      longStatements = true, minOps = 2, maxOps = 4, minHosts = 1, maxHosts = 3,
      ddlShare = 0.05, corruptShare = 0.01)),
    "ops_mix" -> OpsWorkload(scale = 0.25, queries = Seq(
      "corpus_clean_e2e", "text_lm_backoff", "corpus_diversity", "dedup_contamination_bloom",
      "dedup_edit_verify", "dedup_components", "corpus_dpo_multiturn", "sim_mmr_topk",
      "text_gopher", "join_multiway", "r19_sweepline", "window_suite")))

  private val OpTimeoutS = 120L
  private val MicroSampleLines = 100
  private val Tag = "bench"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, artifact: Path, reference: Option[Path])

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload '$w' (known: ${workloads.keys.toSeq.sorted.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("artifact")).toAbsolutePath,
      m.get("reference").map(Paths.get(_).toAbsolutePath))
  }

  // ----------------------------------------------------------- process stats

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Resident high-water mark of this process, MiB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  // ------------------------------------------------------------ output check

  /** Same value for the same multiset of rows: maps are put in key order
    * first, since their hash depends on entry order. */
  private def canon(c: Column, t: DataType): Column = t match {
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), k).as("key"), canon(e.getField("value"), v).as("value"))))
    case StructType(fs) if hasMap(t) =>
      when(c.isNotNull, struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case ArrayType(e, _) if hasMap(t) => transform(c, x => canon(x, e))
    case _ => c
  }
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case ArrayType(e, _) => hasMap(e)
    case _ => false
  }

  /** Order-insensitive fingerprint: (row count, xor of row hashes). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Fingerprints of `queries_with_sql` and every chart table, as
    * concurrent Spark jobs: the tables are small, so one at a time would
    * leave most cores idle. */
  private def outputFingerprints(spark: SparkSession, out: Path,
                                 charts: Seq[String]): Map[String, (Long, Long)] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val outputs = ("queries_with_sql" -> out.resolve("queries_with_sql")) +:
      charts.map(n => s"charts/$n" -> out.resolve("charts").resolve(n))
    Await.result(Future.traverse(outputs) { case (name, path) =>
      Future(name -> fingerprint(spark.read.parquet(path.toString)))
    }, Duration.Inf).toMap
  }

  private def summaryProblems(s: Pipeline.RunSummary, m: ProfileGen.Manifest): Seq[String] =
    Seq(
      ("queries", s.nQueries, m.queries),
      ("operators", s.nOperators, m.operators),
      ("fragments", s.nFragments, m.fragments),
      ("select_like", s.nSelectLike, m.selectLike),
      ("dropped_lines", m.lines - s.nQueries, m.corrupt))
      .collect { case (what, got, want) if got != want => s"$what: got $got, want $want" } ++
      (if (s.chartTables.isEmpty) Seq("no chart tables") else Nil)

  /** Fingerprints recorded on an earlier tree for this workload and seed
    * (`reference/fingerprints.json`: workload → seed → output → [rows, xor]). */
  private def referenceFor(args: Args): Map[String, (Long, Long)] = {
    implicit val formats: Formats = DefaultFormats
    args.reference.filter(Files.isRegularFile(_)).map { p =>
      (parse(Files.readString(p)) \ args.workload \ args.seed.toString)
        .extractOpt[Map[String, Seq[Long]]].getOrElse(Map.empty)
        .map { case (k, v) => k -> (v(0), v(1)) }
    }.getOrElse(Map.empty)
  }

  /** Every output must equal the same output of the run's first operation
    * that made it, and the recorded reference where there is one. */
  private def fingerprintProblems(ops: Seq[Op], reference: Map[String, (Long, Long)]): Seq[Op] = {
    val first = ops.flatMap(_.fingerprints.toSeq).foldLeft(Map.empty[String, (Long, Long)]) {
      case (acc, (k, v)) => if (acc.contains(k)) acc else acc + (k -> v)
    }
    ops.map { o =>
      val p = o.fingerprints.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        Seq(first.get(k).filter(_ != v).map(w => s"$k fingerprint $v != $w from the run's first operation"),
          reference.get(k).filter(_ != v).map(w => s"$k fingerprint $v != reference $w")).flatten
      }
      o.copy(problems = o.problems ++ p)
    }
  }

  // ------------------------------------------------------------- the chain

  /** `Pipeline.run`'s step 1, as it makes it: ingest, then restrict to this
    * run's tag. */
  private def ingest(span: Spans, spark: SparkSession, inDir: String,
                     outDir: String): ProfileIngest.ProfileTables = span("ingest") {
    val model = ProfileIngest.ingestToParquet(spark, inDir, s"$outDir/model", Tag)
    val tagQueries = model.queries.filter(col("tag") === Tag)
    val tagIds = tagQueries.select("query_id")
    ProfileIngest.ProfileTables(tagQueries,
      model.operators.join(broadcast(tagIds), Seq("query_id"), "left_semi"),
      model.fragments.join(broadcast(tagIds), Seq("query_id"), "left_semi"))
  }

  /** `Pipeline.run`, step for step, with a span around each layer call. Its
    * summary and outputs are checked against the shipped `Pipeline.run` in
    * the same process, so this copy cannot drift from it unnoticed. */
  private def chain(span: Spans, spark: SparkSession, inDir: String,
                    outDir: String): Pipeline.RunSummary = span("chain") {
    val t = ingest(span, spark, inDir, outDir)
    val withSqlBack = span("sqlstats") {
      SqlFeatures.attach(spark, t.queries).write.mode("overwrite").parquet(s"$outDir/queries_with_sql")
      spark.read.parquet(s"$outDir/queries_with_sql")
    }
    val charts = span("analytics") {
      val charts = ChartTables.all(t, Some(withSqlBack))
      ChartTables.writeAll(t, s"$outDir/charts", Some(withSqlBack))
      span("analytics.render") { ChartRender.renderAll(charts, s"$outDir/figures") }
      charts
    }
    val elbowKs = 1 to 10
    val (nSelect, ranKs, ranFinalK) = span("ml") {
      val feats = Clustering.featureColumns(withSqlBack)
      val nSelect = feats.count()
      val ks = elbowKs.filter(_ <= nSelect)
      if (nSelect >= 2) {
        val scaled = Clustering.assembleAndScale(feats)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          import spark.implicits._
          Clustering.elbow(scaled, ks).toDF("k", "wcss", "pct_variance_explained")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/clusters/elbow")
          val k = math.max(2, math.min(10, nSelect.toInt))
          Clustering.finalClusters(scaled, k)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/clusters/final")
          (nSelect, ks, Some(k))
        } finally { scaled.unpersist(); () }
      } else (nSelect, Seq.empty[Int], None)
    }
    span("summary") {
      Pipeline.RunSummary(Tag, outDir, t.queries.count(), t.operators.count(),
        t.fragments.count(), nSelect, charts.keys.toSeq.sorted, ranKs, ranFinalK)
    }
  }

  // ---------------------------------------------------------------- the run

  /** What an operation is for. An untraced run makes only [[Timed]] ones. */
  sealed trait Round { def traced: Boolean = false }
  /** Untraced; its time is the end-to-end metrics. */
  case object Timed extends Round
  /** Traced; mirrors the first timed operation and gives the per-layer
    * metrics. On `dashboard` it is the traced copy of the chain. */
  case object Layers extends Round { override def traced = true }
  /** On `dashboard`: the shipped `Pipeline.run`, whose summary and outputs
    * the traced chain must equal. */
  case object Check extends Round
  /** Warm work without, then with tracing: the ratio of their medians prices
    * tracing. On `ops_mix` every query runs once in each, back to back; on
    * `dashboard` it is two pairs of the chain's ingest step, since two more
    * whole chains would bring a trace run near its time limit. */
  case object Untraced extends Round
  case object Traced extends Round { override def traced = true }
  /** On `dashboard`: one untraced ingest step before the pairs, checked but
    * not priced. */
  case object Warmup extends Round

  /** One operation: one chain or one declared query; `pass` numbers the
    * passes over the declared queries. */
  final case class Op(label: String, round: Round, pass: Int, wallS: Double, cpuS: Double,
                      gcS: Double, heapFloorMb: Double, codeCacheMb: Double, spans: Seq[Span],
                      summary: Option[Pipeline.RunSummary], sqlCounts: Option[(Long, Long, Long)],
                      fingerprints: Map[String, (Long, Long)], problems: Seq[String])

  /** What a workload's set-up hands to the timed loop. */
  private final case class Prepared(inputLines: Long, input: JValue, dump: Option[ProfileGen.Dump])

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = workloads(args.workload)
    def log(msg: String) = System.err.println(s"[perfbench] $msg")

    // inputs are generated while the session starts
    val inDir = args.work.resolve("input")
    val inputF = Future[Prepared](workload match {
      case w: PipelineWorkload =>
        val d = ProfileGen.generate(w.params, args.seed)
        Files.createDirectories(inDir)
        Files.write(inDir.resolve("dump.txt"), (d.lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val m = d.manifest
        Prepared(m.lines, JObject(
          "queries" -> JLong(m.queries), "operators" -> JLong(m.operators),
          "fragments" -> JLong(m.fragments), "select_like" -> JLong(m.selectLike),
          "ddl" -> JLong(m.ddl), "corrupt" -> JLong(m.corrupt), "statements" -> JLong(m.statements),
          "distinct_statements" -> JLong(m.distinctStatements)), Some(d))
      case w: OpsWorkload =>
        val rows = OpsData.write(inDir, w.scale, args.seed)
        Prepared(rows.values.sum, JObject(rows.toList.sortBy(_._1).map { case (k, v) => k -> JLong(v) }), None)
    })(ExecutionContext.global)

    // Bench's session settings
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.retainedDeadExecutors", "5")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val prepared = Await.result(inputF, Duration.Inf)
    val inputBytes = Bench.inputBytes(inDir.toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", Bench.adaptiveMaxPartitionBytes(inputBytes, cores))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      Bench.adaptiveInitialPartitions(inputBytes, cores).toLong)

    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc(); Thread.sleep(250); System.gc()
    }

    /** Runs `body` with a wall-clock limit; a breach cancels its jobs. */
    def bounded[A](body: => A): A = {
      val task = new java.util.concurrent.FutureTask[A](() => body)
      val th = new Thread(task, "perfbench-op"); th.setDaemon(true); th.start()
      try task.get(OpTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelAllJobs(); task.cancel(true); th.join(30000)
          throw new RuntimeException(s"operation exceeded $OpTimeoutS s", e)
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }

    /** Times `body` (traced if the round is) after a sweep. Returns the
      * operation, with a problem if `body` threw, and `body`'s result. */
    var opIndex = 0
    def timed[A](label: String, round: Round, pass: Int)(body: Spans => A): (Op, Option[A]) = {
      opIndex += 1
      sweep()
      val heapFloor = Bench.heapUsedMb().toDouble
      val g0 = Bench.gcMillis()
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      val tracer = if (round.traced) Some(new Tracer(spark, opIndex)) else None
      val result = try Right(bounded(body(tracer.getOrElse(NoSpans)))) catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val gcS = (Bench.gcMillis() - g0) / 1000.0
      val codeMb = Bench.poolUsedMb("CodeHeap").toDouble
      val spans = tracer.map(_.finish()).getOrElse(Nil)
      (Op(label, round, pass, wall, cpu, gcS, heapFloor, codeMb, spans, None, None, Map.empty,
        result.left.toSeq.map(e => s"threw: $e")), result.toOption)
    }

    // set-up ends here; operations start while the measuring window is open
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log(f"set-up took $setupS%.1f s")
    val windowEndNs = System.nanoTime() + args.seconds * 1000000000L
    def windowOpen = System.nanoTime() < windowEndNs
    val ran = scala.collection.mutable.ArrayBuffer.empty[Op]

    workload match {
      case _: PipelineWorkload =>
        val manifest = prepared.dump.get.manifest
        /** One chain, or with `whole` false its ingest step, into a fresh
          * output directory, which is checked, fingerprinted and deleted
          * outside the timed region. */
        def pipelineOp(round: Round, whole: Boolean = true): Op = {
          val out = args.work.resolve(s"op-$opIndex")
          val o = out.toString
          val what = (if (round.traced) "traced " else "") + (if (whole) "chain" else "ingest")
          val (op, result) = timed(s"$what $opIndex", round, opIndex) { span =>
            if (!whole) Left(ingest(span, spark, inDir.toString, o).queries.count())
            else if (round.traced) Right(chain(span, spark, inDir.toString, o))
            else Right(Pipeline.run(spark, Tag, inDir.toString, o))
          }
          val checkStart = System.nanoTime()
          val checked = result.fold(op) {
            case Left(nQueries) =>
              if (nQueries == manifest.queries) op
              else op.copy(problems = Seq(s"ingest: got $nQueries queries, want ${manifest.queries}"))
            case Right(summary) => Try {
              val sql = if (round != Layers) None else {
                val r = spark.read.parquet(s"$o/queries_with_sql").agg(count(lit(1)), countDistinct(col("stmt")),
                  count(when(col("sql.sql_type") === "Unparseable", 1))).head()
                Some((r.getLong(0), r.getLong(1), r.getLong(2)))
              }
              op.copy(summary = Some(summary), sqlCounts = sql,
                fingerprints = outputFingerprints(spark, out, summary.chartTables),
                problems = summaryProblems(summary, manifest))
            }.fold(e => op.copy(problems = Seq(s"output check threw: $e")), identity)
          }
          deleteTree(out)
          log(f"${op.label}: ${op.wallS}%.1f s, checked in ${(System.nanoTime() - checkStart) / 1e9}%.1f s")
          checked
        }
        if (args.trace) {
          ran += pipelineOp(Layers)
          ran += pipelineOp(Check)
          // the first step after the chains is still warming up; after it,
          // untraced-traced-traced-untraced cancels a steady drift
          ran += pipelineOp(Warmup, whole = false)
          do {
            ran += pipelineOp(Untraced, whole = false); ran += pipelineOp(Traced, whole = false)
            ran += pipelineOp(Traced, whole = false); ran += pipelineOp(Untraced, whole = false)
          } while (windowOpen)
        } else do ran += pipelineOp(Timed) while (windowOpen)
        // every chain of a run read the same input, so every summary must be the first one's
        val ref = ran.flatMap(_.summary).headOption
        ran.mapInPlace(o => (for (s <- o.summary; r <- ref if s.copy(outDir = r.outDir) != r)
          yield o.copy(problems = o.problems :+ s"summary $s differs from $r")).getOrElse(o))

      case w: OpsWorkload =>
        val dir = inDir.toString
        /** One pass over the declared queries; `rounds(i)` says in which
          * rounds the i-th query runs, one execution each. Each is forced as
          * `Bench.forceHashAgg` forces it, by one hash aggregate over every
          * output column, but that aggregate also counts the rows and keeps
          * the hash: the execution that is timed yields the fingerprint. */
        var passes = 0
        def pass(rounds: Int => Seq[Round]): Seq[Op] = {
          passes += 1
          w.queries.zipWithIndex.flatMap { case (q, i) =>
            rounds(i).map { round =>
              val (op, fp) = timed(q, round, passes) { span =>
                span(s"ops.$q") { fingerprint(SparkEntry.benchQueries(q)(spark, dir)) }
              }
              op.copy(fingerprints = fp.map(q -> _).toMap)
            }
          }
        }
        if (args.trace) {
          ran ++= pass(_ => Seq(Layers))
          // each query untraced and traced back to back, in alternating order,
          // so that the second execution's warmer start cancels out
          do ran ++= pass(i => if (i % 2 == 0) Seq(Untraced, Traced) else Seq(Traced, Untraced)) while (windowOpen)
        } else do ran ++= pass(_ => Seq(Timed)) while (windowOpen)
    }

    val ops = fingerprintProblems(ran.toSeq, referenceFor(args))
    ops.foreach(o => o.problems.foreach(p => log(s"${o.label}: $p")))
    val failed = ops.count(_.problems.nonEmpty)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      // a pass over the declared queries takes the sum of their times
      val runs = ops.groupBy(_.pass).values.toSeq
      metrics("run_s") = (median(runs.map(_.map(_.wallS).sum)), "s")
      metrics("cpu_s") = (median(runs.map(_.map(_.cpuS).sum)), "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      metrics("setup_s") = (setupS, "s")
    } else layerMetrics(metrics, workload, ops, prepared.dump)
    spark.stop()

    val failedFrac = failed.toDouble / ops.size
    val metricsJson = JObject(metrics.toList.map { case (k, (v, u)) => k -> JObject("value" -> num(v), "unit" -> JString(u)) })
    val fingerprintsJson = JObject(ops.flatMap(_.fingerprints.toSeq).distinctBy(_._1).sortBy(_._1).toList
      .map { case (k, (c, x)) => k -> JArray(List(JLong(c), JLong(x))) })
    writeArtifact(args, prepared, inputBytes, setupS, failedFrac, ops, metricsJson)
    metrics.foreach { case (k, (v, u)) => log(f"$k%-40s $v $u") }
    log(s"failed_frac $failedFrac ($failed of ${ops.size} operations)")
    println("PERFBENCH-FP " + compact(JObject("workload" -> JString(args.workload),
      "seed" -> JLong(args.seed), "fingerprints" -> fingerprintsJson)))
    println("PERFBENCH " + compact(JObject("correct" -> JBool(failed == 0), "attempted" -> JLong(ops.size),
      "failed" -> JLong(failed), "metrics" -> metricsJson)))
  }

  private def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)

  // ------------------------------------------------------ per-layer metrics

  /** Per-layer metrics of the profile chain, with their units. */
  val pipelineLayerMetrics: Seq[(String, String)] = Seq(
    "ingest.wall_s" -> "s", "ingest.task_cpu_s" -> "s", "ingest.decode_us_per_line" -> "us",
    "ingest.lines" -> "count", "ingest.queries_out" -> "count", "ingest.operators_out" -> "count",
    "ingest.fragments_out" -> "count", "ingest.dropped_lines" -> "count",
    "sqlstats.wall_s" -> "s", "sqlstats.task_cpu_s" -> "s", "sqlstats.analyze_us_per_stmt" -> "us",
    "sqlstats.statements" -> "count", "sqlstats.distinct_statements" -> "count",
    "sqlstats.useful_ratio" -> "ratio", "sqlstats.unparseable" -> "count",
    "analytics.wall_s" -> "s", "analytics.jobs" -> "count", "analytics.tasks" -> "count",
    "analytics.render_s" -> "s", "ml.wall_s" -> "s", "ml.jobs" -> "count", "ml.rows" -> "count")

  /** Per-layer metrics of the declared queries, with their units. */
  val opsLayerMetrics: Seq[(String, String)] =
    workloads.values.collect { case w: OpsWorkload => w.queries }.flatten.toSeq.distinct.flatMap(q =>
      Seq(s"ops.$q.wall_s" -> "s", s"ops.$q.shuffle_mb" -> "MB", s"ops.$q.spill_mb" -> "MB", s"ops.$q.tasks" -> "count"))

  val jvmLayerMetrics: Seq[(String, String)] = Seq(
    "jvm.gc_s" -> "s", "jvm.heap_floor_mb" -> "MB", "jvm.code_cache_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  /** Fills `metrics` with every per-layer metric. A layer the workload does
    * not call (the profile layers on ops_mix, the declared queries on
    * dashboard) reads 0, and so does every layer of a failed traced run. */
  private def layerMetrics(metrics: scala.collection.mutable.Map[String, (Double, String)],
                           workload: Workload, ops: Seq[Op], dump: Option[ProfileGen.Dump]): Unit = {
    val got = scala.collection.mutable.Map.empty[String, Double]
    val layers = ops.filter(_.round == Layers)
    // a failed traced operation already fails the run; its layers then read 0
    if (layers.nonEmpty && layers.forall(_.problems.isEmpty)) {
      val spans = layers.flatMap(_.spans)
      /** Wall time of a span; task totals of it and the spans nested in it. */
      def layer(name: String): (Double, TaskTotals) = {
        val totals = new TaskTotals
        spans.filter(sp => sp.name == name || sp.name.startsWith(name + ".")).foreach(totals += _.tasks)
        (spans.filter(_.name == name).map(_.seconds).sum, totals)
      }
      workload match {
        case _: PipelineWorkload =>
          val m = dump.get.manifest
          val s = layers.head.summary.get
          val (ingestS, ingestT) = layer("ingest")
          val (sqlS, sqlT) = layer("sqlstats")
          val (anS, anT) = layer("analytics")
          val (mlS, mlT) = layer("ml")
          val sample = dump.get.lines.iterator.flatMap(l => ProfileIngest.parseLine(l, "sample").map(l -> _))
            .take(MicroSampleLines).toSeq
          val (statements, distinct, unparseable) = layers.head.sqlCounts.get
          got ++= Seq(
            "ingest.wall_s" -> ingestS,
            "ingest.task_cpu_s" -> ingestT.cpuNs / 1e9,
            "ingest.decode_us_per_line" -> perItemMicros(sample.map(_._1)) { l =>
              val (tree, qid) = ProfileIngest.decodeLine(l); ProfileParser.parse(tree, "sample", qid)
            },
            "ingest.lines" -> m.lines.toDouble,
            "ingest.queries_out" -> s.nQueries.toDouble,
            "ingest.operators_out" -> s.nOperators.toDouble,
            "ingest.fragments_out" -> s.nFragments.toDouble,
            "ingest.dropped_lines" -> (m.lines - s.nQueries).toDouble,
            "sqlstats.wall_s" -> sqlS,
            "sqlstats.task_cpu_s" -> sqlT.cpuNs / 1e9,
            "sqlstats.analyze_us_per_stmt" -> perItemMicros(sample.map(_._2.query.stmt))(SqlFeatures.analyze),
            "sqlstats.statements" -> statements.toDouble,
            "sqlstats.distinct_statements" -> distinct.toDouble,
            "sqlstats.useful_ratio" -> distinct.toDouble / statements,
            "sqlstats.unparseable" -> unparseable.toDouble,
            "analytics.wall_s" -> anS,
            "analytics.jobs" -> anT.jobs.toDouble,
            "analytics.tasks" -> anT.tasks.toDouble,
            "analytics.render_s" -> layer("analytics.render")._1,
            "ml.wall_s" -> mlS,
            "ml.jobs" -> mlT.jobs.toDouble,
            "ml.rows" -> s.nSelectLike.toDouble)
        case w: OpsWorkload =>
          w.queries.foreach { q =>
            val (wall, t) = layer(s"ops.$q")
            got ++= Seq(s"ops.$q.wall_s" -> wall, s"ops.$q.shuffle_mb" -> t.shuffleBytes / 1048576.0,
              s"ops.$q.spill_mb" -> t.spillBytes / 1048576.0, s"ops.$q.tasks" -> t.tasks.toDouble)
          }
      }
      /** Median over the round's passes of a pass's wall time. */
      def passMedian(r: Round) = median(ops.filter(_.round == r).groupBy(_.pass).values.toSeq.map(_.map(_.wallS).sum))
      got ++= Seq(
        "jvm.gc_s" -> layers.map(_.gcS).sum,
        "jvm.heap_floor_mb" -> layers.map(_.heapFloorMb).max,
        "jvm.code_cache_mb" -> layers.last.codeCacheMb,
        "trace.overhead_frac" -> (passMedian(Traced) / passMedian(Untraced) - 1))
    }
    (pipelineLayerMetrics ++ opsLayerMetrics ++ jvmLayerMetrics).foreach { case (k, u) =>
      metrics(k) = (got.getOrElse(k, 0.0), u)
    }
  }

  /** Single-threaded cost per item, µs: three untimed passes to warm the
    * JIT, then the median of five timed passes. */
  private def perItemMicros[A](items: Seq[A])(f: A => Any): Double = {
    require(items.nonEmpty, "empty micro-timer sample")
    (1 to 3).foreach(_ => items.foreach(f))
    median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); items.foreach(f)
      (System.nanoTime() - t0) / 1e3 / items.size
    })
  }

  // --------------------------------------------------------------- artifact

  private def writeArtifact(args: Args, p: Prepared, inputBytes: Long, setupS: Double, failedFrac: Double,
                            ops: Seq[Op], metrics: JValue): Unit = {
    val opsJson = ops.toList.map { o =>
      val spans = o.spans.toList.map { s =>
        val t = s.tasks
        JObject("run" -> JLong(s.run), "name" -> JString(s.name), "parent" -> s.parent.fold[JValue](JNull)(JString(_)),
          "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs), "jobs" -> JLong(t.jobs),
          "tasks" -> JLong(t.tasks), "task_run_s" -> num(t.runMs / 1e3), "task_cpu_s" -> num(t.cpuNs / 1e9),
          "task_gc_s" -> num(t.gcMs / 1e3), "shuffle_mb" -> num(t.shuffleBytes / 1048576.0),
          "spill_mb" -> num(t.spillBytes / 1048576.0))
      }
      JObject("op" -> JString(o.label), "round" -> JString(o.round.toString), "pass" -> JLong(o.pass),
        "wall_s" -> num(o.wallS), "cpu_s" -> num(o.cpuS), "gc_s" -> num(o.gcS),
        "heap_floor_mb" -> num(o.heapFloorMb), "code_cache_mb" -> num(o.codeCacheMb),
        "fingerprints" -> JObject(o.fingerprints.toList.sortBy(_._1).map { case (k, (c, x)) =>
          k -> JArray(List(JLong(c), JLong(x))) }),
        "problems" -> JArray(o.problems.toList.map(JString(_))), "spans" -> JArray(spans))
    }
    val json = JObject("workload" -> JString(args.workload), "seed" -> JLong(args.seed),
      "seconds" -> JLong(args.seconds), "trace" -> JBool(args.trace),
      "input_lines" -> JLong(p.inputLines), "input_bytes" -> JLong(inputBytes), "input" -> p.input,
      "setup_s" -> num(setupS), "failed_frac" -> num(failedFrac), "metrics" -> metrics,
      "operations" -> JArray(opsJson))
    Files.createDirectories(args.artifact.getParent)
    Files.write(args.artifact, (compact(json) + "\n").getBytes("UTF-8"))
  }
}
