package graft

import org.apache.spark.ListenerBusPeek

class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def assertNoProbeListener(): Unit =
    assert(!ListenerBusPeek.listenerClasses(spark.sparkContext).exists(_.startsWith("graft.Probe")))

  test("attribute: one row per query and rep, with task, stage and dominant-stage totals") {
    val rows = Probe.attribute(spark, sf, Seq("join_multiway", "r19_sweepline"), reps = 1)
    assert(rows.map(r => (r.query, r.rep)) === Seq(("join_multiway", 0), ("r19_sweepline", 0)))
    rows.foreach { r =>
      assert(r.cores === spark.sparkContext.defaultParallelism)
      assert(r.tasks > 0 && r.stages > 0 && r.wallS > 0, r.line)
      assert(r.domStageId >= 0 && r.domStageRunS <= r.runS, r.line)
      assert(r.line.startsWith(s"ATTR cores=${r.cores} q=${r.query} rep=0 "))
    }
    assertNoProbeListener()
  }

  test("attribute: unknown query names fail before anything runs") {
    val e = intercept[IllegalArgumentException](
      Probe.attribute(spark, sf, Seq("join_multiway", "no_such_query"), reps = 1))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("join_multiway"))
    assertNoProbeListener()
  }
}
