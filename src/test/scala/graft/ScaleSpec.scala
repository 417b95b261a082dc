package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join is exchange-free on both sides") {
    val d = "/root/testdata/sf0.001"
    Scale.writeBucketed(Tables.lineitem(spark, d), "li_b", "l_orderkey", 8)
    Scale.writeBucketed(
      Tables.orders(spark, d).withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_b", "l_orderkey", 8)
    val joined = Scale.bucketedJoin(spark, "li_b", "ord_b", "l_orderkey")
    val exchanges = joined.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, joined.queryExecution.executedPlan.toString)
    assert(joined.count() === 6000L) // every lineitem matches its order
  }

  test("IVF probe over a persisted index prunes non-probed list partitions") {
    // VERDICT r3 item 3: the 100 TB story for IVF is that a probe READS
    // only nProbe of nLists partition directories. Build + write the index,
    // reload, probe, and assert the scan's partition filter (a) exists and
    // (b) actually pruned the file set.
    import graft.ops.Similarity
    val d = "/root/testdata/sf0.001"
    val index = Similarity.ivfBuild(
      Tables.embeddings(spark, d), "vec_id", "embedding", nLists = 4)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.ivfWrite(index, path)
    val loaded = Similarity.ivfLoad(spark, path, "vec_id")
    assert(loaded.nLists === 4)
    val probed = Similarity.ivfProbeById(loaded, queryId = 0L, k = 5, nProbe = 2)
    val scans = probed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, probed.queryExecution.executedPlan.toString)
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "list_id")),
      s"no list_id partition filter in: ${scan.partitionFilters}")
    // 2 of 4 lists probed -> at most half the partition dirs are read
    val selected = scan.selectedPartitions.partitionCount
    assert(selected <= 2, s"probe read $selected partition dirs, expected <= 2")
    // and the probe still returns correct top-k within the probed lists
    assert(probed.count() === 5)
  }

  test("salted aggregation equals direct groupBy") {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val direct = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("q"), count(lit(1)).as("c"))
      .as[(String, Double, Long)].collect().toSet
    val salted = Scale.saltedSum(li, Seq("l_returnflag"), col("l_orderkey"), 8,
      Seq("q" -> sum(col("l_quantity")), "c" -> count(lit(1))))
      .as[(String, Double, Long)].collect().toSet
    assert(salted === direct)
  }

  test("salted join equals plain join, including multiplicity and left rows") {
    // duplicate keys on BOTH sides (2×3 fan-out per key) and a big-side key
    // with no match — exactly the cases where salting could drop or
    // duplicate rows if the replication were wrong
    val big = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("k", "bv").withColumn("rid", monotonically_increasing_id())
    val small = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L)).toDF("k", "sv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "bv", "sv").collect()
        .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .groupBy(identity).map { case (k2, v) => k2 -> v.size }
    Seq("inner", "left").foreach { jt =>
      val plain = canon(big.join(small, Seq("k"), jt))
      val salted = canon(Scale.saltedJoin(big, small, Seq("k"), col("rid"), 4, jt))
      assert(salted === plain, s"join type $jt")
    }
    // the point of the salt: when the small side is too big to broadcast,
    // the shuffle key must be (k, __salt) so a hot k spreads over salts
    // reducers — assert the exchange actually carries the salt
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Scale.saltedJoin(big, small, Seq("k"), col("rid"), 4)
        .queryExecution.executedPlan.toString
      assert(p.contains("hashpartitioning(k#") && p.contains("__salt#"),
        s"expected a (k, __salt) shuffle:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("concurrently returns results in input order and rethrows an element's failure") {
    // later elements finish first, so completion order is the reverse of input order
    val xs = 1 to 8
    assert(Scale.concurrently(xs) { i => Thread.sleep((9 - i) * 20L); i * i } === xs.map(i => i * i))
    assert(Scale.concurrently(Seq.empty[Int])(identity) === Seq.empty)
    val e = intercept[IllegalStateException] {
      Scale.concurrently(xs) { i => if (i == 3) throw new IllegalStateException("element 3") else i }
    }
    assert(e.getMessage === "element 3")
  }

  test("concurrently submits each element's jobs under the caller's job group") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("graft.scale.elem")))
          .foreach(el => seen.put(el, String.valueOf(j.properties.getProperty("spark.jobGroup.id"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("scale-spec-group", "concurrently job group")
    try {
      Scale.concurrently(1 to 6) { i =>
        sc.setLocalProperty("graft.scale.elem", i.toString)
        spark.range(0, i * 10L).count()
      }
    } finally {
      sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toMap === (1 to 6).map(i => i.toString -> "scale-spec-group").toMap)
  }
}
