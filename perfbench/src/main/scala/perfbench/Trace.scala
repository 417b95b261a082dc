package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark task totals attributed to one span. Times in ms (run, GC) or ns
  * (CPU), as Spark reports them. */
final class TaskTotals {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  def +=(o: TaskTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Attributes task metrics to the job group that submitted them. The tracer
  * names each span's job group after the span, so a group is a span. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val byGroup = mutable.HashMap.empty[String, TaskTotals]

  // listener callbacks arrive on one bus thread; reads happen after a drain
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      byGroup.getOrElseUpdate(g, new TaskTotals).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = byGroup.getOrElseUpdate(g, new TaskTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** One timed region around a call into a layer. */
final case class Span(run: Int, name: String, parent: Option[String],
                      startNs: Long, endNs: Long, tasks: TaskTotals) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wraps a layer call; the untraced chain passes [[NoSpans]]. */
trait Spans {
  def apply[A](name: String)(body: => A): A
}

object NoSpans extends Spans {
  def apply[A](name: String)(body: => A): A = body
}

/** Records spans in memory around layer calls made from the benchmark's own
  * code. Each span runs under a Spark job group of the same name so that
  * [[GroupListener]] can attribute its tasks. */
final class Tracer(spark: SparkSession, run: Int) extends Spans {
  private val listener = new GroupListener
  private val stack = mutable.Stack.empty[String]
  private val closed = mutable.ArrayBuffer.empty[(String, Option[String], Long, Long)]

  spark.sparkContext.addSparkListener(listener)

  def apply[A](name: String)(body: => A): A = {
    val parent = stack.headOption
    stack.push(name)
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      closed += ((name, parent, t0, System.nanoTime()))
      stack.pop()
      parent.fold(sc.clearJobGroup())(p => sc.setJobGroup(p, p, interruptOnCancel = false))
    }
  }

  /** Stops listening and returns the spans with their task totals. */
  def finish(): Seq[Span] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    closed.toSeq.map { case (name, parent, t0, t1) =>
      Span(run, name, parent, t0, t1, listener.byGroup.getOrElse(name, new TaskTotals))
    }
  }
}
