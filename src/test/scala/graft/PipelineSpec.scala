package graft

import org.apache.spark.sql.functions._

/** End-to-end run of the driver.sh-equivalent chain (VERDICT r3 item 2):
  * synthetic profile dump → ingest → SQL features → chart tables →
  * clustering, all from one [[Pipeline.run]] call, asserting every artifact
  * the reference workflow produces exists and is non-empty. */
class PipelineSpec extends SparkSpec {
  import ProfileFixtures._

  private lazy val dumpDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipeline_dump")
    // varied Select statements so clustering has >1 distinct feature vector,
    // plus a DDL (feature pass must not choke) and a corrupt line (dropped)
    val lines = Seq(
      dumpLine(queryProfile("select l_returnflag, count(*) from tpch.lineitem group by 1"), qid = "q1"),
      dumpLine(queryProfile("select * from t where a in (1,2,3) order by b limit 10"), qid = "q2"),
      dumpLine(queryProfile("select a, sum(b) from t join u on t.id = u.id " +
        "where c between 1 and 9 group by a having sum(b) > 5"), qid = "q3"),
      dumpLine(queryProfile("select case when x > 0 then 1 else 0 end from " +
        "(select max(x) as x from t) s"), qid = "q4"),
      dumpLine(queryProfile("select 1"), qid = "q5"),
      dumpLine(ddlProfile(), qid = "ddl1"),
      "corrupt line zzz")
    java.nio.file.Files.write(dir.resolve("dump.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("Pipeline.run chains ingest -> sqlstats -> charts -> clustering end-to-end") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_out").toString
    val s = Pipeline.run(spark, "tagP", dumpDir, out, elbowKs = 1 to 4, finalK = 3)

    // stage 1: model tables on disk, gated rows only (DDL passes the gate
    // as a QUERY-typed profile? no — ddlProfile is DDL, still ingested)
    assert(s.nQueries === 6 && s.nOperators > 0 && s.nFragments > 0)
    assert(spark.read.parquet(s"$out/model/queries").count() === 6)
    assert(spark.read.parquet(s"$out/model/operators").count() === s.nOperators)
    assert(spark.read.parquet(s"$out/model/fragments").count() === s.nFragments)

    // stage 2: SQL features attached and persisted
    val withSql = spark.read.parquet(s"$out/queries_with_sql")
    assert(withSql.count() === 6)
    assert(withSql.filter(col("sql.sql_type") === "SelectStmt").count() === 5)

    // stage 3: every chart-input table written and readable; the headline
    // ones non-empty (pre_agg_reduction_hist etc. are legitimately empty
    // for a workload with no such operators)
    assert(s.chartTables.nonEmpty)
    s.chartTables.foreach { name =>
      spark.read.parquet(s"$out/charts/$name").schema // readable
    }
    Seq("num_joins_hist", "runtime_seconds", "operator_time_matrix",
      "concurrency", "query_type_rollup").foreach { name =>
      assert(s.chartTables.contains(name), s"chart $name missing")
      assert(spark.read.parquet(s"$out/charts/$name").count() > 0, s"chart $name empty")
    }

    // stage 4: clustering artifacts
    val elbow = spark.read.parquet(s"$out/clusters/elbow")
    assert(elbow.count() === s.elbowKs.size.toLong && s.elbowKs.nonEmpty)
    // WCSS is monotonically non-increasing in k (same seed, nested capacity)
    val wcss = elbow.orderBy("k").select("wcss").collect().map(_.getDouble(0))
    assert(wcss.zip(wcss.tail).forall { case (a, b) => b <= a + 1e-6 })
    val fin = spark.read.parquet(s"$out/clusters/final")
    assert(s.finalK.contains(3) && fin.count() > 0)
    // cluster sizes account for every Select/Union query
    assert(fin.agg(sum("size")).head.getLong(0) === s.nSelectLike)
  }

  test("Pipeline.run figures equal the renders of the chart tables' lineage") {
    // more queries than a figure has bars, and no post-shuffle coalescing,
    // so tables span several partitions as at scale: a table whose written
    // rows came back in another order than its lineage's would show other
    // bars or labels
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_pipeline_figs")
      // (a line's query id is the hash of its payload, so every statement differs)
      val stmts = Seq[Int => String](
        i => s"select l_returnflag, count(*) from tpch.lineitem where l_linenumber > $i group by 1",
        i => s"select * from t where a in (1, 2, $i) order by b limit 10",
        i => s"select a, sum(b) from t join u on t.id = u.id where c between 1 and $i group by a")
      java.nio.file.Files.write(dir.resolve("dump.txt"), (0 until 120).map { i =>
        dumpLine(queryProfile(stmts(i % stmts.size)(i)), qid = s"f$i")
      }.mkString("\n").getBytes("UTF-8"))
      val out = java.nio.file.Files.createTempDirectory("graft_pipeline_figs_out").toString
      val s = Pipeline.run(spark, "tagF", dir.toString, out, elbowKs = Seq(1, 2), finalK = 2)
      assert(s.nQueries === 120)
      val q = spark.read.parquet(s"$out/model/queries").filter(col("tag") === "tagF")
      val ids = q.select("query_id")
      val lineage = graft.analytics.ChartTables.all(graft.ingest.ProfileIngest.ProfileTables(q,
        spark.read.parquet(s"$out/model/operators").join(ids, Seq("query_id"), "left_semi"),
        spark.read.parquet(s"$out/model/fragments").join(ids, Seq("query_id"), "left_semi")),
        Some(spark.read.parquet(s"$out/queries_with_sql")))
      assert(lineage.keys.toSeq.sorted === s.chartTables)
      s.chartTables.foreach { name =>
        val svg = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$out/figures/$name.svg")), "UTF-8")
        assert(svg === graft.analytics.ChartRender.renderTable(name, lineage(name)), s"figure $name")
      }
    } finally spark.conf.set(key, was)
  }

  test("CorpusMain.run cleans, shards, and writes a training-ready corpus layout") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val s = CorpusMain.run(spark, docs, out, nShards = 4)
    assert(s.nIn > 0 && s.nKept > 0 && s.nKept <= s.nIn)
    assert(s.splits.keySet.subsetOf(Set("train", "val", "test")))
    assert(s.splits.values.sum === s.nKept)
    // the written layout is the training contract: split/shard directories,
    // redacted text present, shard ids within range
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.count() === s.nKept)
    assert(corpus.columns.contains("redacted") && corpus.columns.contains("pos"))
    // partition-column read-back infers int, not the written long — cast
    val shards = corpus.select(col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(shards.forall(sh => sh >= 0 && sh < 4))
    val trainDir = new java.io.File(s"$out/corpus/split=train")
    assert(trainDir.isDirectory && trainDir.list().exists(_.startsWith("shard=")))
    val stats = spark.read.parquet(s"$out/stats")
    assert(stats.count() > 0)
    assert(stats.agg(org.apache.spark.sql.functions.sum(col("n_docs")))
      .head().getLong(0) === s.nKept)
  }

  test("CorpusMain with bpeMerges writes tokenizer artifacts and decodable token ids") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_bpe").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val s = CorpusMain.run(spark, docs, out, nShards = 4, bpeMerges = 24)
    assert(s.nMerges === 24 && s.vocabSize > 24)
    val merges = spark.read.parquet(s"$out/tokenizer/merges")
    assert(merges.count() === 24)
    val vocab = spark.read.parquet(s"$out/tokenizer/vocab")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(vocab.size.toLong === s.vocabSize)
    // token ids cover the whole kept corpus, partitioned like the shards,
    // and every id resolves in the vocab (the tokenizer trained on the
    // train split, but the base-char block covers the shared alphabet)
    val ids = spark.read.parquet(s"$out/token_ids")
    assert(ids.count() === s.nKept)
    val trainDir = new java.io.File(s"$out/token_ids/split=train")
    assert(trainDir.isDirectory && trainDir.list().exists(_.startsWith("shard=")))
    val allIds = ids.select(org.apache.spark.sql.functions.explode(col("token_ids")))
      .distinct().collect().map(_.getInt(0))
    assert(allIds.forall(i => i == -1 || vocab.contains(i)))
    assert(allIds.exists(_ >= 0))
  }

  test("CorpusMain with packTokens lays the train split into bounded context windows") {
    import org.apache.spark.sql.functions.{col, size, sum, max}
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_pack").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val s = CorpusMain.run(spark, docs, out, nShards = 4, bpeMerges = 16,
      packTokens = 256)
    assert(s.nPacks > 0)
    val packs = spark.read.parquet(s"$out/packs")
    val trainIds = spark.read.parquet(s"$out/token_ids")
      .filter(col("split") === "train")
    // every train doc packed exactly once, with its REAL subword count
    assert(packs.count() === trainIds.count())
    val counts = trainIds.select(col("doc_id"),
      size(col("token_ids")).cast("long").as("n"))
    assert(packs.join(counts, "doc_id")
      .filter(col("n_subwords") =!= col("n")).count() === 0)
    // no pack overfills its window unless it holds a single oversize doc
    val fills = packs.groupBy("pack_id")
      .agg(sum(col("n_subwords")).as("fill"), max(col("oversize").cast("int")).as("o"))
    assert(fills.filter(col("fill") > 256 && col("o") === 0).count() === 0)
    assert(s.nPacks === packs.select("pack_id").distinct().count())
    // interop artifact: the emitted merges.txt/vocab.json reload into a
    // tokenizer that re-encodes the corpus to the SAME ids the pipeline
    // committed — the trained tokenizer is usable without this engine
    val (m2, v2) = graft.ops.Bpe.readTokenizer(spark, s"$out/tokenizer")
    assert(m2.size === 16 && v2.nonEmpty)
    val reEnc = graft.ops.Bpe.encodeIds(
      spark.read.parquet(s"$out/corpus").select(col("doc_id"),
        col("redacted").as("text")),
      "doc_id", "text", m2, v2)
    val committed = spark.read.parquet(s"$out/token_ids")
      .select(col("doc_id"), col("token_ids").as("want"))
    assert(reEnc.join(committed, "doc_id")
      .filter(not(col("token_ids") <=> col("want"))).count() === 0)
  }

  test("Pipeline tags are isolated: a second tag's run does not leak into the first") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipeline_out2").toString
    val first = Pipeline.run(spark, "tagA", dumpDir, out, elbowKs = Seq(1, 2), finalK = 2)
    // same dump, different tag: ingest appends new (tag, query_id) rows;
    // analytics/clustering for tagB must see only tagB's queries
    val second = Pipeline.run(spark, "tagB", dumpDir, out, elbowKs = Seq(1, 2), finalK = 2)
    assert(first.nQueries === 6 && second.nQueries === 6)
    val q = spark.read.parquet(s"$out/model/queries")
    assert(q.count() === 12)
    assert(q.filter(col("tag") === "tagA").count() === 6)
  }

  test("clean's optional LM tail cut drops exactly the per-lang tail mass") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = graft.ops.CorpusPipeline.clean(spark, docs, "doc_id", "text",
      lang = None)
    val cut = graft.ops.CorpusPipeline.clean(spark, docs, "doc_id", "text",
      lang = None, lmTailPermille = Some(300))
    val baseIds = base.corpus.select("doc_id").as[Long].collect().toSet
    val cutIds = cut.corpus.select("doc_id").as[Long].collect().toSet
    // reference: rebuild the pre-redact gate from the exposed nearDeduped
    // stage (same quality filter, no lang gate) and cut its tail directly
    val quality = graft.ops.TextAnalysis.qualityColumns(col("clean_text"))
      .toMap.apply("quality")
    val filteredRef = base.nearDeduped
      .withColumn("quality", quality)
      .withColumn("lang", graft.ops.TextAnalysis.langId(col("clean_text")))
      .filter(col("quality") >= 0.3)
    val keepRef = graft.ops.TextAnalysis.perplexityBuckets(
        filteredRef, "doc_id", "clean_text", col("lang"),
        headPermille = 700, middlePermille = 0)
      .filter(col("bucket") =!= "tail")
      .select("doc_id").as[Long].collect().toSet
    assert(cutIds === keepRef)
    assert(cutIds.subsetOf(baseIds), "the cut only ever removes documents")
    assert(cutIds.size < baseIds.size, "the tail cut must be non-vacuous")
  }
}
