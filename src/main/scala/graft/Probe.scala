package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Attribution tool over the shipped query closures, on Bench's session
  * ([[Bench.session]]), so what it measures is exactly what the bench
  * times. Two modes:
  *
  *   runMain graft.Probe explain <query> [query...]
  *     formatted physical plan of named SparkEntry queries (sf0.01);
  *   runMain graft.Probe attr <sfDir> <cores[,cores...]> <reps> <q1,q2,...>
  *     one line per (cores, query, rep): wall time, summed task run / CPU
  *     / GC time, shuffle fetch wait, shuffle read/write and spill MB,
  *     task and stage counts, idle and stall shares, and the stage that
  *     owned the most task run time. */
object Probe {

  /** One attributed run. `idleFrac` = 1 − run/(wall·cores): the share of
    * the session's core-seconds no task used (scheduling gaps, driver-side
    * work, too few tasks). `stallFrac` = 1 − cpu/run: the share of task
    * time spent off-CPU (fetch waits, I/O, GC pauses, lock waits). */
  final case class AttrRow(cores: Int, query: String, rep: Int, wallS: Double,
                           runS: Double, cpuS: Double, gcS: Double, fetchS: Double,
                           shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
                           tasks: Long, stages: Long,
                           domStageId: Int, domStageName: String, domStageRunS: Double) {
    def idleFrac: Double = 1.0 - runS / (wallS * cores)
    def stallFrac: Double = 1.0 - cpuS / math.max(1e-3, runS)
    def line: String =
      f"ATTR cores=$cores q=$query rep=$rep wall_s=$wallS%.2f run_s=$runS%.2f " +
        f"cpu_s=$cpuS%.2f gc_s=$gcS%.2f fetch_s=$fetchS%.2f " +
        f"shuffle_read_mb=$shuffleReadMb%.1f shuffle_write_mb=$shuffleWriteMb%.1f " +
        f"spill_mb=$spillMb%.1f tasks=$tasks stages=$stages " +
        f"idle_frac=$idleFrac%.2f stall_frac=$stallFrac%.2f " +
        f"dom_stage=$domStageId dom_stage_run_s=$domStageRunS%.2f dom_stage_name=$domStageName"
  }

  /** Task-metric sums for one run; stage ids are unique per application,
    * so a fresh instance per run needs no filtering. */
  private final class Totals {
    var runMs, cpuNs, gcMs, fetchMs, readB, writeB, spillB, tasks, stages = 0L
    val stageRunMs = scala.collection.mutable.Map.empty[Int, Long]
    val stageName = scala.collection.mutable.Map.empty[Int, String]
  }

  /** Sums every finished task into the current run's [[Totals]]. */
  private final class TotalsListener extends SparkListener {
    val current = new AtomicReference(new Totals)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      val t = current.get
      if (m != null) t.synchronized {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        t.readB += m.shuffleReadMetrics.totalBytesRead
        t.writeB += m.shuffleWriteMetrics.bytesWritten
        t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        t.tasks += 1
        t.stageRunMs(te.stageId) = t.stageRunMs.getOrElse(te.stageId, 0L) + m.executorRunTime
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val t = current.get
      t.synchronized {
        t.stages += 1
        t.stageName(sc.stageInfo.stageId) = Bridge.stageLabel(sc.stageInfo)
      }
    }
  }

  /** The shipped bench closures for `names`, in order; throws listing every
    * name SparkEntry.benchQueries does not declare. */
  private def benchClosures(names: Seq[String]): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val unknown = names.filterNot(SparkEntry.benchQueries.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown bench queries: ${unknown.mkString(", ")}")
    names.map(n => n -> SparkEntry.benchQueries(n))
  }

  /** Run each named bench query `reps` times on `spark` (forced like the
    * bench, with Bench's sweep before every run) and attribute each run's
    * task time. The listener is removed before returning. */
  def attribute(spark: SparkSession, sfDir: String, names: Seq[String],
                reps: Int): Seq[AttrRow] = {
    val queries = benchClosures(names)
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val listener = new TotalsListener
    sc.addSparkListener(listener)
    try for ((name, fn) <- queries; rep <- 0 until reps) yield {
      Bench.sweep(spark)
      Bridge.drainListenerBus(sc) // the sweep's own events stay out of this run
      val t = new Totals
      listener.current.set(t)
      val t0 = System.nanoTime()
      Bench.forceHashAgg(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(sc)
      t.synchronized {
        val (domId, domMs) =
          if (t.stageRunMs.isEmpty) (-1, 0L) else t.stageRunMs.maxBy(_._2)
        AttrRow(cores, name, rep, wall, t.runMs / 1e3, t.cpuNs / 1e9, t.gcMs / 1e3,
          t.fetchMs / 1e3, t.readB / 1e6, t.writeB / 1e6, t.spillB / 1e6,
          t.tasks, t.stages, domId, t.stageName.getOrElse(domId, "?"), domMs / 1e3)
      }
    } finally sc.removeSparkListener(listener)
  }

  /** The fixture `explain` plans against. */
  private val ExplainSf = "/root/testdata/sf0.01"

  def main(args: Array[String]): Unit = args.toList match {
    case "explain" :: names =>
      val spark = Bench.session(4, ExplainSf)
      try names.foreach { name =>
        println(s"========== $name ==========")
        SparkEntry.queries(name)(spark, ExplainSf).explain("formatted")
      } finally spark.stop()
    case List("attr", sfDir, cores, reps, queries) =>
      val names = queries.split(",").toSeq
      benchClosures(names) // fail on an unknown name before any session starts
      cores.split(",").map(_.trim.toInt).foreach { c =>
        val spark = Bench.session(c, sfDir)
        try attribute(spark, sfDir, names, reps.toInt).foreach(r => println(r.line))
        finally spark.stop()
      }
    case _ =>
      System.err.println(
        "usage: Probe explain <query...> | Probe attr <sfDir> <cores[,cores...]> <reps> <q1,q2,...>")
      sys.exit(2)
  }
}
