package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Pure per-query aggregation of repeated timed passes (spec'd in
    * UnitsSpec): min over passes when EVERY pass succeeded, else the
    * first failure marker — min-of-passes defuses additive load noise but
    * must never launder an intermittent failure into a clean timing. */
  def aggregatePasses(names: Seq[String],
                      passes: Seq[Map[String, Double]]): Seq[(String, Double)] =
    names.map { name =>
      val ts = passes.map(_(name))
      val oks = ts.filter(_ > 0)
      name -> (if (oks.size == ts.size) oks.min else ts.filterNot(_ > 0).head)
    }

  /** Fold the (timed) warmup pass into green rows as an extra min
    * candidate (spec'd in UnitsSpec). A 200-query single-JVM marathon
    * accumulates sticky degradation (r12 measured text_lm_backoff at
    * 23.1 s in BOTH timed passes of a run whose warmup — and any
    * isolated run — does it in ~3.5 s; a 10-query context window does
    * not reproduce it), and min-of-passes can only pick from passes
    * that all ran in the degraded tail of the JVM. The warmup runs
    * FIRST, before the debt builds, so its timing is the one
    * observation immune to it — and it is a real, honestly-measured
    * run of the identical query, so keeping a smaller warmup time is
    * not an estimate. Failure semantics unchanged: the warmup timing
    * is consulted ONLY for rows whose real passes were all green
    * (a warmup flake must not poison a green row, and a red row must
    * not be laundered by a lucky warmup). */
  def mergeWarmup(results: Seq[(String, Double)],
                  warmup: Map[String, Double]): Seq[(String, Double)] =
    results.map { case (name, v) =>
      val w = warmup.getOrElse(name, -1.0)
      name -> (if (v > 0 && w > 0 && w < v) w else v)
    }

  /** (busy, total) jiffies from /proc/stat's aggregate cpu line, or
    * (-1, -1) when unreadable. busy = everything except idle+iowait. */
  def procStatJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal [guest...]
      val v = f.drop(1).take(8).map(_.toLong)
      val total = v.sum
      (total - v(3) - v(4), total)
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  /** This JVM's own consumed jiffies (utime+stime over all threads)
    * from /proc/self/stat, or -1 when unreadable. */
  def selfJiffies(): Long =
    try {
      // field 2 is "(comm)" which may contain spaces — split after ')'
      val s = java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/self/stat"))
      val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      // rest(0) is field 3 (state); utime/stime are fields 14/15
      rest(11).toLong + rest(12).toLong
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Fraction of the machine's CPU time consumed by processes OTHER
    * than this JVM between two (procStat, self) samples — the
    * contamination signal that loadavg is not (spec'd in UnitsSpec).
    * Loadavg counts the bench's OWN 32 worker threads: a full-suite
    * pass on an IDLE box reads loadavg 8-11 at the heavy queries, so
    * any loadavg threshold either misfires on self-load or misses real
    * contamination (this round's first guard stamped an idle-box run
    * contaminated). External CPU share is self-load-blind: on an idle
    * box it stays ~0 no matter how hard the bench runs, and r11-style
    * co-tenants show up as exactly the fraction of machine CPU they
    * burn. Returns -1 (no verdict) when either sample was unreadable
    * or time did not advance. */
  def externalCpuFrac(busy0: Long, total0: Long, self0: Long,
                      busy1: Long, total1: Long, self1: Long): Double =
    if (busy0 < 0 || busy1 < 0 || self0 < 0 || self1 < 0 || total1 <= total0) -1.0
    else math.max(0L, (busy1 - busy0) - (self1 - self0)).toDouble /
      (total1 - total0)

  /** Whether a timed pass ran on a quiet machine: other processes took
    * at most `extMax` of the machine's CPU time (default 0.10). An
    * unreadable sample (-1) is treated as clean — no evidence is not
    * evidence of contamination, and the artifact records the -1. */
  def passIsClean(extFrac: Double, extMax: Double): Boolean =
    extFrac < 0 || extFrac <= extMax

  /** Contamination verdict for a whole run (spec'd in UnitsSpec): the
    * per-query numbers are min-of-passes, so ONE clean pass is enough
    * for the minimum to be a quiet-box measurement — the artifact is
    * contaminated only when EVERY pass ran loaded (r11's failure mode:
    * load climbed after the pre-run gate and stayed up through both
    * passes, so min-of-two could not save it). */
  def runContaminated(passExtFracs: Seq[Double], extMax: Double): Boolean =
    !passExtFracs.exists(passIsClean(_, extMax))

  /** Parquet split size that keeps the SCAN stage ~2 waves wide on `cores`
    * tasks regardless of input size (spec'd in UnitsSpec). Spark packs
    * input into ~`totalBytes / maxPartitionBytes` FilePartitions, so a
    * single 646 MB file under the 128 MB default is FIVE tasks on 32
    * cores — the starvation the round-8 sf100 dry run observed (multiple
    * files don't help: small files are PACKED together up to the same
    * byte budget). Sizing the split to `total / (2·cores)`, clamped to
    * [4 MB, 128 MB], makes the scan stage core-wide for any local SF
    * while degenerating to exactly Spark's default at production scale
    * (totalBytes ≫ 2·cores·128 MB clamps high), so nothing is tuned away
    * from the 100 TB shape. */
  def adaptiveMaxPartitionBytes(totalBytes: Long, cores: Int): Long = {
    val target = totalBytes / math.max(1L, 2L * cores)
    math.min(128L << 20, math.max(4L << 20, target))
  }

  /** AQE initial shuffle-partition count sized to the input (spec'd in
    * UnitsSpec): clamp(8 · totalBytes / 64 MB, cores, 4096). Fixed
    * shuffle.partitions = cores spills at big local SFs — the sf100
    * winnow probe moved 500M-row print shuffles through 32 partitions
    * (~15M rows each) and measured decade exponent 1.37; at 800 initial
    * partitions the same probe ran 23% faster (exp 1.25, residual =
    * single-box shuffle bandwidth). The 8× headroom covers exploded
    * intermediates (n-gram/print tables run ~10× the input bytes); AQE
    * coalesces small shuffles back down to ~cores, so light queries are
    * unaffected, and at sf0.1 the clamp floors at `cores` — identical
    * behavior to the fixed setting the committed artifacts used. */
  def adaptiveInitialPartitions(totalBytes: Long, cores: Int): Int = {
    val target = 8L * totalBytes / (64L << 20)
    math.min(4096L, math.max(cores.toLong, target)).toInt
  }

  /** Sum of regular-file sizes under `dir` (recursive) — the scan volume
    * the session will actually read; 0 if the dir is missing. */
  def inputBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return 0L
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Cumulative stop-the-world GC milliseconds for this JVM (all
    * collectors). Deltas across a query's timed region attribute GC
    * pressure to the query that paid for it — the instrumentation
    * VERDICT r13 item 1 asked for: identical code ran corpus_diversity
    * 2.77 s isolated vs 6.27 s inside the 226-query driver marathon,
    * and no artifact field could say whether the tax was GC, code-cache
    * exhaustion, or something else. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Used heap, MiB. */
  def heapUsedMb(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed >> 20

  /** Used bytes (as MiB) across memory pools whose name contains
    * `nameSubstring` — "CodeHeap" sums the three JIT code-cache
    * segments (a full code cache disables the JIT compiler and is a
    * classic source of uniform ~2× long-JVM slowdowns), "Metaspace"
    * tracks class-metadata growth from the per-query generated
    * WholeStageCodegen classes. */
  def poolUsedMb(nameSubstring: String): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains(nameSubstring))
      .flatMap(p => Option(p.getUsage)).map(_.getUsed).sum >> 20
  }

  /** 1-minute loadavg, or -1 when /proc is unavailable — recorded in the
    * bench artifact so a uniformly-inflated round is provably machine
    * load, not a code regression (round 8's 103 s driver pass vs 62 s
    * local run of the same binary had to be argued from spread alone). */
  def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Force REAL work on a query result: one hash-aggregate over EVERY
    * output column. `.count()` is not a measurement for two query
    * shapes (VERDICT r9 item 1): a pure projection lets the count prune
    * to parquet footer metadata (text_code_fences "measured" a row
    * count), and a `spine.join(groupBy(spine.key), key, "left")` output
    * is erased outright by unique-key left-join elimination
    * (text_lm_backoff's 0.5 s at 5M docs measured nothing). Summing
    * xxhash64 over all columns references every output column, so
    * neither rewrite can fire and every expression in the query actually
    * evaluates — while adding only a codegen'd hash + one scalar
    * aggregate on top (no sort, no extra shuffle: partial XORs combine
    * map-side). XOR, not SUM: summing 60k 64-bit hashes overflows under
    * ANSI mode (Spark 4 default) and throws; bit_xor is closed over
    * Long and order-invariant. */
  def forceHashAgg(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    val cols = df.columns.map(c => col(s"`$c`"))
    df.agg(bit_xor(xxhash64(cols: _*))).collect(): Unit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Load discipline (VERDICT r9 item 6): the r9 driver pass ran at
    // loadavg 5.43 vs 1.28 local, inflating the headline ~8%. When the
    // 1-minute load is above threshold, wait for it to drain (bounded —
    // the bench must still run on a genuinely busy box) and record both
    // the waits and the final load so bench_diff.py can annotate.
    val maxLoad = sys.env.get("SPARK_GRAFT_MAX_LOAD").map(_.toDouble).getOrElse(2.0)
    var loadWaits = 0
    while (loadAvg1m() > maxLoad && loadWaits < 6) {
      System.err.println(f"[bench] loadavg ${loadAvg1m()}%.2f > $maxLoad%.1f — waiting 30 s (${loadWaits + 1}/6)")
      Thread.sleep(30000)
      loadWaits += 1
    }
    val loadBefore = loadAvg1m()
    val spark = session(cpus.toInt, sfDir)
    val maxSplit = spark.sparkContext.getConf.get("spark.sql.files.maxPartitionBytes")
    // optional subset filter for debugging: SPARK_GRAFT_ONLY=q1,q2
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.benchQueries)(names =>
      SparkEntry.benchQueries.view.filterKeys(names).toMap)
      .toSeq.sortBy(_._1) // deterministic execution order
    // Untimed warmup pass: JIT + codegen compilation + parquet footer/IO
    // caches otherwise land entirely on whichever query runs first
    // (~8 s of constant overhead measured at sf0.001). Timed pass below
    // reports steady-state per-query latency. SPARK_GRAFT_NO_WARMUP=1 skips.
    // The sweep runs OUTSIDE the timed region, so its cost is charged to
    // nobody and the printed total stays the sum of clean per-query times.
    // Watchdog: one wedged query must not stall the whole bench (the
    // driver's round artifact depends on the summary line PRINTING). Each
    // query runs under its own job group with a hard wall-clock budget;
    // on breach the group's Spark jobs are cancelled and the query is
    // recorded as failed (negative timing), exactly like a throw. 300 s
    // is ~100× the slowest healthy query at sf0.1 — a breach means
    // wedged, not slow. SPARK_GRAFT_QUERY_TIMEOUT_S overrides.
    val queryTimeoutS =
      sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT_S").map(_.toLong).getOrElse(300L)
    def runForced(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean = {
      import java.util.concurrent.{CountDownLatch, FutureTask, TimeUnit, TimeoutException}
      val group = s"bench-$name"
      val registered = new CountDownLatch(1)
      val task = new FutureTask[Unit](() => {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        registered.countDown()
        try forceHashAgg(fn(spark, sfDir))
        finally spark.sparkContext.clearJobGroup()
      })
      val t = new Thread(task, s"bench-query-$name"); t.setDaemon(true); t.start()
      try { task.get(queryTimeoutS, TimeUnit.SECONDS); true }
      catch {
        case _: TimeoutException =>
          // the group must EXIST before the cancel — a timeout that fires
          // before the worker ran setJobGroup would otherwise cancel
          // nothing and the query would keep running under the radar
          registered.await(5, TimeUnit.SECONDS)
          spark.sparkContext.cancelJobGroup(group)
          task.cancel(true)
          // wait for the cancelled worker to actually DIE — a wedged
          // query's still-draining tasks would otherwise overlap the next
          // timed query and inflate its measured minimum
          t.join(30000)
          if (t.isAlive)
            System.err.println(s"[bench] $name worker still draining after cancel — subsequent timings may be inflated")
          false
        case t: Throwable =>
          // a swallowed failure is undiagnosable from the artifact alone
          // (round 9 lost a flaky text_bpe_word_hist throw this way) —
          // keep the negative-timing contract but say WHAT threw
          System.err.println(s"[bench] $name threw: " +
            Option(t.getCause).getOrElse(t))
          false
      }
    }
    // Per-observation JVM evidence (VERDICT r13 item 1): for every run of
    // every query — warmup, pass 1, pass 2, recovery — record the GC
    // milliseconds paid INSIDE the timed region plus the heap / JIT
    // code-cache / metaspace occupancy the query STARTED from (i.e. the
    // floor that survived the pre-query sweep). A row whose in-suite time
    // is 2× its isolated time now carries its own diagnosis: rising
    // gc_ms with a rising heap floor names listener/cleaner accumulation;
    // a code_mb plateau at the reserve names JIT-compiler shutdown; flat
    // evidence with inflated time names the machine, not the JVM.
    val jvmEvidence = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]]
    def timedRun(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val (h, c, m) = (heapUsedMb(), poolUsedMb("CodeHeap"), poolUsedMb("Metaspace"))
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val ok = runForced(name, fn)
      val dt = (System.nanoTime() - t0) / 1e9
      jvmEvidence.getOrElseUpdate(name,
        scala.collection.mutable.ArrayBuffer.empty) += ((gcMillis() - g0, h, c, m))
      if (ok) dt else -dt
    }
    // The warmup is timed (but stays a warmup: its purpose is JIT/codegen
    // /IO-cache absorption) so mergeWarmup can keep it as a min candidate
    // for green rows — the one observation taken before long-JVM
    // degradation accumulates; see mergeWarmup's scaladoc.
    val warmupTimes: Map[String, Double] =
      if (sys.env.contains("SPARK_GRAFT_NO_WARMUP")) Map.empty
      else selected.map { case (name, fn) =>
        val dt = timedRun(name, fn) // guarded: a wedged warmup must not stall the bench
        sweep(spark)
        name -> dt
      }.toMap
    def timedPass(): Seq[(String, Double)] = selected.map { case (name, fn) =>
      sweep(spark) // each query starts from a clean cache/storage state
      name -> timedRun(name, fn) // negative timing = query threw or timed out
    }
    // Noise defense: the timed sweep runs TWICE and each query reports the
    // MIN of its passes. This VM's background load has produced a 1.6×
    // swing between identical-binary runs (round 5 recorded 92.1 s for a
    // binary a steady-state re-run finished in 58.2 s) — a transient load
    // spike inflates a query in one pass with high probability but in BOTH
    // passes with low probability, and min-of-2 keeps the steady-state
    // number. Min (not median-of-3) because load noise is strictly
    // additive: the fastest observation is always the closest to the
    // unloaded truth, and a second full pass already doubles bench
    // wall-clock.
    //
    // Mid-run contamination defense (VERDICT r11 item 1): the pre-run
    // drain gate only sees load BEFORE the run — r11's machine got loaded
    // mid-run and STAYED loaded through both passes (load_after 7.52;
    // judge re-runs showed 8× inflation on individual rows), so min-of-two
    // laundered nothing and the artifact was silently unusable. Now each
    // pass records the EXTERNAL CPU share it ran under (other processes'
    // jiffies / machine jiffies — loadavg is useless here, it counts the
    // bench's own 32 worker threads; see externalCpuFrac); if NO pass ran
    // clean the bench spends one recovery pass (after a bounded drain
    // wait), and if that one is dirty too the artifact is stamped
    // "contaminated": true so tools/bench_diff.py refuses a silent
    // comparison.
    val extMax =
      sys.env.get("SPARK_GRAFT_MAX_EXT_CPU").map(_.toDouble).getOrElse(0.10)
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val passExt = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passJvm = scala.collection.mutable.ArrayBuffer.empty[String]
    def measuredPass(): Map[String, Double] = {
      val l0 = loadAvg1m()
      val (b0, t0) = procStatJiffies(); val s0 = selfJiffies()
      val g0 = gcMillis()
      val p = timedPass().toMap
      val (b1, t1) = procStatJiffies(); val s1 = selfJiffies()
      passLoads += ((l0, loadAvg1m()))
      passExt += externalCpuFrac(b0, t0, s0, b1, t1, s1)
      passJvm += s"""{"gc_ms":${gcMillis() - g0},"heap_mb_end":${heapUsedMb()},"code_mb_end":${poolUsedMb("CodeHeap")},"meta_mb_end":${poolUsedMb("Metaspace")}}"""
      p
    }
    // Optional rest before each timed pass (SPARK_GRAFT_PASS_REST_S):
    // the round-12 A/B measured a pass that followed a ~2 min idle gap
    // at 243 s where back-to-back passes ran 282–340 s on the same
    // binary and an idle box — warm-path debt (GC/JIT/host turbo) decays
    // with rest, and min-of-passes can only report what some pass
    // actually achieved. Default 0: the drive-by bench stays cheap; set
    // it when landing a durable artifact.
    val passRestS =
      sys.env.get("SPARK_GRAFT_PASS_REST_S").map(_.toLong).getOrElse(0L)
    def restedPass(): Map[String, Double] = {
      if (passRestS > 0) { sweep(spark); Thread.sleep(passRestS * 1000) }
      measuredPass()
    }
    val passesBuf = scala.collection.mutable.ArrayBuffer(restedPass(), restedPass())
    if (runContaminated(passExt.toSeq, extMax)) {
      System.err.println(f"[bench] both passes ran under external load (ext cpu ${passExt.map(f => f"$f%.3f").mkString(", ")}) — draining, then one recovery pass")
      var waits = 0
      while (loadAvg1m() > maxLoad && waits < 6) { Thread.sleep(30000); waits += 1 }
      loadWaits += waits
      passesBuf += restedPass()
    }
    val contaminated = runContaminated(passExt.toSeq, extMax)
    if (contaminated)
      System.err.println("[bench] every pass ran under external load — artifact stamped contaminated; timings are upper bounds, not a regression gate")
    val passes = passesBuf.toSeq
    val results =
      mergeWarmup(aggregatePasses(selected.map(_._1), passes), warmupTimes)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Methodology stamp + raw warmup timings (ADVICE r12): the headline
    // per-query numbers are min(warmup, passes...) since r12, so artifacts
    // produced under the old min-of-passes-only method are NOT directly
    // comparable (the new method can only lower numbers). bench_method=2
    // names this scheme; tools/bench_diff.py warns on a cross-method
    // comparison. The warmup map makes every warmup-won row auditable:
    // a row where queries[q] == warmup[q] < min(passes) took its time
    // from the pre-degradation warmup run.
    val warmupJson = warmupTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total sums SUCCESSFUL queries only — a thrown query keeps its negative
    // per-query marker above but must not shrink the headline number
    val total = results.collect { case (_, v) if v > 0 => v }.sum
    val failed = results.count(_._2 <= 0)
    // load guard (VERDICT r8 item 5): loadavg before/after plus the raw
    // per-pass totals let bench_diff.py tell "machine was loaded" apart
    // from "code regressed" — a loaded round shows high load and a wide
    // pass-to-pass spread, a regression shows neither
    val loadAfter = loadAvg1m()
    val passTotals = passes.map(_.values.filter(_ > 0).sum)
      .map(v => f"$v%.3f").mkString("[", ",", "]")
    val passLoadsJson = passLoads
      .map { case (s, e) => f"[$s%.2f,$e%.2f]" }.mkString("[", ",", "]")
    val passExtJson = passExt.map(f => f"$f%.4f").mkString("[", ",", "]")
    // The per-query map (one line per run, ~3 KB for 78 queries) goes on an
    // EARLIER line; the LAST stdout line is a short summary so a bounded
    // tail-capture always gets an intact JSON object (round 4's single
    // giant line was truncated mid-object and parsed as null). The summary
    // keeps the headline keys only; per-query timings live in the
    // "per_query" line above it and in SPARK_GRAFT_BENCH_OUT (if set).
    // JVM evidence (VERDICT r13 item 1): per query, the suite position
    // plus one entry per observation (warmup first, then passes, in run
    // order) of [gc_ms inside the timed region, heap MiB at start,
    // code-cache MiB at start, metaspace MiB at start]. pass_jvm carries
    // the pass-level rollup. Together these name the in-suite-inflation
    // mechanism per row instead of asserting it.
    val posOf = selected.map(_._1).zipWithIndex.toMap
    val jvmJson = jvmEvidence.map { case (n, obs) =>
      val rows = obs.map { case (g, h, c, m) => s"[$g,$h,$c,$m]" }.mkString("[", ",", "]")
      s""""$n":{"pos":${posOf.getOrElse(n, -1)},"obs":$rows}"""
    }.mkString("{", ",", "}")
    val passJvmJson = passJvm.mkString("[", ",", "]")
    val full =
      s"""{"metric":"per_query","value":$total,"unit":"sec","failed":$failed,"drive":"hash_agg","bench_method":2,"load_before":$loadBefore,"load_after":$loadAfter,"load_waits":$loadWaits,"pass_totals":$passTotals,"pass_loads":$passLoadsJson,"pass_ext_cpu":$passExtJson,"pass_jvm":$passJvmJson,"contaminated":$contaminated,"max_partition_bytes":$maxSplit,"queries":$qs,"warmup":$warmupJson,"jvm_per_query":$jvmJson,"sf":"$sfDir"}"""
    // durable per-query artifact: regression analysis must not depend on
    // the driver's bounded stdout tail-capture surviving (round 4's map
    // was truncated mid-line)
    // bench_history/latest.json is committed-tree-adjacent so each round's
    // per-query map survives as bench_history/r<N>.json (renamed at the
    // start of the next round) — regression analysis must not depend on
    // the driver's bounded stdout tail-capture (round 7 kept only 55/101
    // queries in both rounds' tails)
    val outPaths = Seq("target/bench_per_query.json", "bench_history/latest.json") ++
      sys.env.get("SPARK_GRAFT_BENCH_OUT")
    outPaths.foreach { p =>
      try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(path, full + "\n")
      } catch { case scala.util.control.NonFatal(_) => () } // artifact is best-effort, never fails the bench
    }
    println(full)
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"n":${results.size},"contaminated":$contaminated,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** The bench's session: `local[cores]` with the scan split and AQE
    * initial partition count sized to the input under `sfDir`
    * (SPARK_GRAFT_MAX_PARTITION_BYTES and SPARK_GRAFT_INIT_PARTS override
    * them). Bench.main and every Probe mode build their session here, so
    * a probe measures exactly the config the bench times. */
  def session(cores: Int, sfDir: String): SparkSession = {
    // scan-width valve: see adaptiveMaxPartitionBytes — env overridable
    val maxSplit = sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES").map(_.toLong)
      .getOrElse(adaptiveMaxPartitionBytes(inputBytes(sfDir), cores))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.files.maxPartitionBytes", maxSplit)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.get("SPARK_GRAFT_INIT_PARTS").map(_.toInt)
          .getOrElse(adaptiveInitialPartitions(inputBytes(sfDir), cores)))
      .config("spark.ui.enabled", "false")
      // Bounded listener state (VERDICT r13 item 1): even with the UI
      // off, SQLAppStatusListener retains up to 1000 completed
      // executions — each holding the FULL physical-plan description
      // string and metric graph. This repo's plan-locked queries have
      // plans that run to megabytes, and the driver marathon executes
      // ~680 queries (warmup + 2 passes × 226), so the default retention
      // accumulates gigabytes of dead-but-referenced listener state that
      // the per-query sweep's System.gc() cannot collect. That heap
      // floor is the named candidate mechanism for the measured ~2×
      // in-suite inflation (corpus_diversity 2.77 s isolated vs 6.27 s
      // in the r13 driver artifact). Bound everything the status stores
      // retain; the jvm_per_query heap/gc evidence in main adjudicates.
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.retainedDeadExecutors", "5")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // forceHashAgg hashes every output column; map-typed columns are
      // hashable only under the legacy flag (order-dependent, fine for a
      // forcing drive — the value is discarded)
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Clean cache/storage state between timed runs, charged to nobody.
    * Per-query attribution must be honest: a query that persists state
    * (e.g. connectedComponents' final labels checkpoint) would otherwise
    * tax whichever queries run after it with eviction/GC pressure
    * (round-2 audit measured up to 19× inflation on later queries). */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // two GCs with a pause: the first queues dead broadcasts/checkpoints
    // onto the ContextCleaner's reference queue, the pause lets the
    // async cleaner drain it, the second collects what the cleanup
    // itself released — otherwise the NEXT query's timed region runs
    // concurrently with the previous query's deferred cleanup
    System.gc()
    Thread.sleep(250)
    System.gc()
  }
}
