package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Scale

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design (100 TB corpus, 1000 executors):
  *  - the query side is always tiny (a vector or a small batch) → broadcast;
  *    the corpus is scanned once, cosine computed scan-side in codegen'd
  *    higher-order functions (zip_with + aggregate), no shuffle;
  *  - global top-k goes through `orderBy(...).limit(k)` which Spark executes
  *    as per-partition TakeOrdered + driver merge of k-row heaps — no full
  *    sort, no full shuffle;
  *  - the ANN path buckets the corpus by random-hyperplane LSH signature
  *    (deterministic md5-seeded planes, so index build is reproducible and
  *    oracle-checkable) and only scores the query's bucket.
  *
  * All arithmetic is double, strictly left-to-right (aggregate over
  * zip_with), which DuckDB's `list_reduce` mirrors bit-exactly.
  */
object Similarity {

  def asDouble(c: Column): Column = c.cast("array<double>")

  /** Sequential-order dot product — the codegen'd native expression
    * ([[graft.functions.DotProduct]]): same left fold as
    * `aggregate(zip_with(a, b, *), 0.0, +)` (bit-identical results, and
    * still mirrored exactly by DuckDB's list_reduce) without the per-row
    * zipped-array allocation or the HOF codegen fence. */
  def dot(a: Column, b: Column): Column = graft.functions.F.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NULL (excluded from every top-k) when either vector has zero norm —
    * a bare division would THROW under Spark 4's default ANSI mode the
    * moment one all-zero embedding appears in a corpus, killing the whole
    * similarity query; cosine to a zero vector is undefined anyway. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d =!= 0.0, dot(a, b) / d)
  }

  /** Exact brute-force top-k neighbors of one stored vector.
    * The 1-row query side is broadcast; ordering is total (cos desc, id).
    * A `queryId` absent from `emb` yields an EMPTY result (the query side
    * filters to zero rows) — same contract as [[projectedTopK]]/[[lshTopK]];
    * the pinned/IVF by-id variants fail loudly instead because they must
    * collect the query vector anyway. */
  def bruteForceTopK(emb: DataFrame, id: String, vec: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(id) === queryId)
      .select(asDouble(col(vec)).as("qv"))
    emb.filter(col(id) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(id), cosine(asDouble(col(vec)), col("qv")).as("cos"))
      .orderBy(desc("cos"), col(id))
      .limit(k)
  }

  /** Batched exact kNN join: top-k corpus neighbors for EACH query row.
    * Queries broadcast; ranking via the bounded-heap
    * [[graft.functions.TopKAgg]] — map-side k-row heaps per query id, so
    * the shuffle ships k rows per query instead of every scored (query,
    * corpus) pair feeding a per-partition window sort. Same total
    * ordering (cos desc, id asc) as the window formulation, so results
    * are identical.
    *
    * Norms are precomputed per corpus row and per query (scan-side) so
    * each scored pair costs ONE dot product instead of three — the same
    * doubles (the division shape is unchanged), same trick as
    * [[cosinePairs]]. Self-exclusion contract: a corpus row whose id
    * EQUALS the query row's id is excluded (the corpus-subset query case
    * every in-repo caller uses); pass disjoint id spaces if queries are
    * external and collisions are meaningful.
    *
    * PRECONDITION: the query side must fit a broadcast (eval-sized
    * batches). For query sets too big to broadcast use
    * [[knnJoinShuffled]] — identical results, no broadcast. */
  def knnJoin(emb: DataFrame, id: String, vec: String,
              queries: DataFrame, qid: String, qvec: String, k: Int): DataFrame = {
    val corpus = emb.select(col(id), asDouble(col(vec)).as("__v"))
      .withColumn("__nrm", norm(col("__v")))
    val joined = corpus.crossJoin(broadcast(
        queries.select(col(qid).as("query_id"), asDouble(col(qvec)).as("qv"))
          .withColumn("__qn", norm(col("qv")))))
      .filter(col(id) =!= col("query_id"))
      .select(col("query_id"), col(id),
        when(col("__nrm") * col("__qn") =!= 0.0,
          dot(col("__v"), col("qv")) / (col("__nrm") * col("__qn"))).as("cos"))
    joined.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(col("cos"), col(id), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as(id), col("col.score").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Shuffled escape hatch for [[knnJoin]] when the QUERY side is too big
    * to broadcast (millions of query rows would blow the driver/executor
    * broadcast memory wall). Exact kNN is inherently all-pairs, so the
    * cartesian is kept but distributed WITHOUT a broadcast: the corpus is
    * hash-bucketed on its id into `buckets` groups (one shuffle, each row
    * lands in exactly one bucket) and each query row is replicated to
    * every bucket via a scan-side `explode(sequence(...))` — a shuffled
    * SHUFFLE_HASH equi-join on the bucket id then meets every (query,
    * corpus) pair exactly once. Replication cost is queries × buckets
    * rows of (id, vector), spread across the cluster by the shuffle
    * instead of materialized per-executor like a broadcast; `buckets`
    * bounds the corpus-side task grain the same way the partition count
    * does for any shuffle. Scoring, self-exclusion, TopKAgg ranking, and
    * the output schema are IDENTICAL to [[knnJoin]] — both are gated on
    * the same oracle SQL (sim_knn_join / sim_knn_join_shuffled), the same
    * pattern as `dedupContamination`'s `broadcastEval=false` hatch. */
  def knnJoinShuffled(emb: DataFrame, id: String, vec: String,
                      queries: DataFrame, qid: String, qvec: String, k: Int,
                      buckets: Int = 32): DataFrame = {
    // buckets <= 0 would not error: pmod(x, 0) is null ANSI-off and
    // sequence(0, -1) counts DOWN, so the join would silently match
    // nothing and return an empty result a caller cannot tell from an
    // empty corpus
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val corpus = emb.select(col(id), asDouble(col(vec)).as("__v"))
      .withColumn("__nrm", norm(col("__v")))
      .withColumn("__bkt", pmod(hash(col(id)), lit(buckets)))
    val q = queries.select(col(qid).as("query_id"), asDouble(col(qvec)).as("qv"))
      .withColumn("__qn", norm(col("qv")))
      .withColumn("__bkt", explode(sequence(lit(0), lit(buckets - 1))))
    val joined = corpus.hint("SHUFFLE_HASH").join(q, "__bkt")
      .filter(col(id) =!= col("query_id"))
      .select(col("query_id"), col(id),
        when(col("__nrm") * col("__qn") =!= 0.0,
          dot(col("__v"), col("qv")) / (col("__nrm") * col("__qn"))).as("cos"))
    joined.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(col("cos"), col(id), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as(id), col("col.score").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Cost-based shape selection between [[knnJoin]] (broadcast) and
    * [[knnJoinShuffled]] (bucket-replicated shuffle): estimate the query
    * side from Catalyst's own plan statistics
    * (`optimizedPlan.stats.sizeInBytes` — CBO/file-size based, no job
    * launched) and broadcast only when it fits under the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the SAME size-vs-threshold
    * decision Spark's planner makes for equi-joins (and that
    * [[graft.plans.AsOfJoinStrategy]] makes for as-of joins) — applied
    * here because the broadcast in [[knnJoin]] is hand-placed, so the
    * planner never gets to veto it. Threshold ≤ 0 (broadcast disabled)
    * always picks the shuffled shape. Both shapes are gated on the same
    * oracle, so the choice can never change answers, only plans. */
  def knnJoinAuto(emb: DataFrame, id: String, vec: String,
                  queries: DataFrame, qid: String, qvec: String, k: Int,
                  buckets: Int = 32): DataFrame = {
    val raw = queries.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // the conf surfaces either a plain (possibly negative = disabled)
    // byte count or a size string like "10MB"; byteStringAsBytes rejects
    // negatives, so try the numeric form first
    val threshold = scala.util.Try(raw.trim.toLong).getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
    val est = queries.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && est <= threshold)
      knnJoin(emb, id, vec, queries, qid, qvec, k)
    else
      knnJoinShuffled(emb, id, vec, queries, qid, qvec, k, buckets)
  }

  /** Hard-negative mining for dense-retrieval training data (the
    * DPR/ANCE recipe — Karpukhin et al. EMNLP'20, Xiong et al. ICLR'21):
    * for each query vector, the top-k most-similar corpus vectors whose
    * `label` DIFFERS from the query's — the negatives that sit closest
    * to the decision boundary, which is what contrastive training needs
    * (random negatives are too easy to carry gradient). Same broadcast +
    * bounded-heap shape as [[knnJoin]] — the label predicate lands
    * BEFORE the heap, so mismatched pairs never enter the aggregate —
    * and the same total order (cos desc, id), so the output is
    * deterministic and oracle-checkable. At 100 TB the corpus side
    * streams map-side exactly like knnJoin; swap in the
    * [[knnJoinShuffled]] bucket replication if the query batch outgrows
    * a broadcast. */
  def hardNegatives(emb: DataFrame, id: String, vec: String, label: String,
                    queries: DataFrame, qid: String, qvec: String,
                    qlabel: String, k: Int): DataFrame = {
    val corpus = emb.select(col(id), col(label).as("__cl"),
        asDouble(col(vec)).as("__v"))
      .withColumn("__nrm", norm(col("__v")))
    val joined = corpus.crossJoin(broadcast(
        queries.select(col(qid).as("query_id"), col(qlabel).as("__ql"),
            asDouble(col(qvec)).as("qv"))
          .withColumn("__qn", norm(col("qv")))))
      .filter(col(id) =!= col("query_id") && col("__cl") =!= col("__ql"))
      .select(col("query_id"), col(id),
        when(col("__nrm") * col("__qn") =!= 0.0,
          dot(col("__v"), col("qv")) / (col("__nrm") * col("__qn"))).as("cos"))
    joined.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(col("cos"), col(id), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as(id), col("col.score").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Contrastive training triplets: each query paired with its hardest
    * in-class positive (the same-label neighbor most likely to be a true
    * match) and its k hardest out-of-class negatives
    * ([[hardNegatives]]) — the (anchor, positive, negatives) rows a
    * retrieval fine-tune consumes directly. Queries with no same-label
    * neighbor are dropped (no positive exists to anchor the triplet). */
  def miningTriplets(emb: DataFrame, id: String, vec: String, label: String,
                     queries: DataFrame, qid: String, qvec: String,
                     qlabel: String, k: Int): DataFrame = {
    val corpus = emb.select(col(id), col(label).as("__cl"),
        asDouble(col(vec)).as("__v"))
      .withColumn("__nrm", norm(col("__v")))
    val qside = broadcast(
      queries.select(col(qid).as("query_id"), col(qlabel).as("__ql"),
          asDouble(col(qvec)).as("qv"))
        .withColumn("__qn", norm(col("qv"))))
    val scored = corpus.crossJoin(qside)
      .filter(col(id) =!= col("query_id"))
      .select(col("query_id"), col(id), col("__cl") === col("__ql"),
        when(col("__nrm") * col("__qn") =!= 0.0,
          dot(col("__v"), col("qv")) / (col("__nrm") * col("__qn"))).as("cos"))
      .toDF("query_id", id, "same_label", "cos")
    val pos = scored.filter(col("same_label"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(col("cos"), col(id), 1).as("top"))
      .select(col("query_id"), col("top")(0)("id").as("pos_id"),
        col("top")(0)("score").as("pos_cos"))
    val neg = scored.filter(!col("same_label"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.top_k(col("cos"), col(id), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neg_id"),
        col("col.score").as("neg_cos"), (col("pos") + 1).cast("int").as("neg_rank"))
    pos.join(neg, Seq("query_id"))
      .select(col("query_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"), col("neg_rank"))
  }

  // ------------------------------------------------------------------- LSH

  /** Deterministic md5-based 60-bit hash of a string, computed driver-side
    * (same value as [[TextAnalysis.hash60]] / the DuckDB mirror). */
  def hash60Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Hyperplane component r(p, j) in [-1, 1]: seeded by md5, identical in
    * the DuckDB oracle — no RNG state anywhere. */
  def planeComponent(p: Int, j: Int): Double =
    (hash60Local(s"plane_${p}_$j") % 2001 - 1000) / 1000.0

  /** The plane matrix as literal array columns (planes × dim doubles —
    * compiled into the plan, nothing to broadcast or collect). */
  private def planeLit(p: Int, dim: Int): Column =
    array((0 until dim).map(j => lit(planeComponent(p, j))): _*)

  /** Johnson–Lindenstrauss-style random-projection dimensionality
    * reduction: out_p = ⟨v, plane_p⟩ with the SAME md5-seeded
    * deterministic planes whose sign bits form the LSH buckets — the
    * continuous projection underneath [[lshBucket]]. Shrinking 64 dims to
    * `outDims` cuts ANN shuffle and storage by the dim ratio while
    * approximately preserving distances (the JL lemma); downstream
    * brute-force/kNN over the projected vectors is the same column
    * algebra. Plane components are integer/1000 rationals and the dot
    * product is the codegen'd left-fold [[graft.functions.DotProduct]],
    * so the projection is bit-exact against the DuckDB mirror. Scan-side,
    * zero shuffles. */
  def projectDims(emb: DataFrame, id: String, vec: String, outDims: Int,
                  dim: Int = 64): DataFrame = {
    val cols = (0 until outDims).map(p =>
      dot(asDouble(col(vec)), planeLit(p, dim)).as(s"p$p"))
    emb.select(col(id) +: cols: _*)
  }

  /** Two-stage ANN over the random projection: rank ALL corpus rows by
    * cosine in the `outDims`-dim projected space (cheap — dim-ratio fewer
    * multiplies and bytes), keep `k × candidateFactor` candidates, then
    * re-rank ONLY those by exact full-dimension cosine. The standard
    * coarse-search + exact-re-rank pattern: at 100 TB stage 1 scans the
    * small projected columns (or a materialized projection table) and
    * stage 2 touches full vectors for a few dozen rows. Deterministic
    * ties (score desc, id) at both stages keep it oracle-exact.
    *
    * `candidateFactor` (and `outDims`) are the recall dial — measured
    * recall@10 on the clustered sf0.01 embeddings: factor 3 / 4 dims =
    * 4/10, factor 12 / 16 dims = 8/10 (OpsSpec recall-evidence test).
    * On clustered corpora [[ivfProbe]] dominates (10/10 at 2/8 probes);
    * the projection path wins when no cluster structure exists to
    * exploit or an index build is not affordable. */
  def projectedTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
                    k: Int, candidateFactor: Int = 3, outDims: Int = 4,
                    dim: Int = 64): DataFrame = {
    val proj = projectDims(emb, id, vec, outDims, dim)
    val pCols = array((0 until outDims).map(p => col(s"p$p")): _*)
    val projArr = proj.select(col(id), pCols.as("pv"))
    val q1 = projArr.filter(col(id) === queryId).select(col("pv").as("qpv"))
    val cand = projArr.filter(col(id) =!= queryId)
      .crossJoin(broadcast(q1))
      .select(col(id), cosine(col("pv"), col("qpv")).as("pcos"))
      .orderBy(desc("pcos"), col(id))
      .limit(k * candidateFactor)
    val qFull = emb.filter(col(id) === queryId)
      .select(asDouble(col(vec)).as("qv"))
    cand.join(emb.select(col(id), col(vec)), Seq(id))
      .crossJoin(broadcast(qFull))
      .select(col(id), cosine(asDouble(col(vec)), col("qv")).as("cos"))
      .orderBy(desc("cos"), col(id))
      .limit(k)
  }

  /** LSH bucket id: bit p set iff dot(v, plane_p) >= 0. */
  def lshBucket(vec: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      when(dot(asDouble(vec), planeLit(p, dim)) >= 0.0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** ANN top-k: score only the corpus rows in the query's LSH bucket.
    * ~corpus/2^planes candidates per query at uniform spread. Each plane
    * halves the scanned corpus AND the recall — measured recall@10 on the
    * clustered sf0.01 embeddings: planes 1/2/3/4 = 7/6/2/1 of 10 (OpsSpec
    * recall-evidence test). Single-bucket probing is the speed extreme;
    * `probeHamming = 1` (multi-probe) recovers 7/10 at planes=4 while
    * scanning 5/16 of the corpus — or use [[ivfProbe]] on clustered
    * data. */
  def lshTopK(emb: DataFrame, id: String, vec: String, queryId: Long,
              k: Int, planes: Int = 8, dim: Int = 64,
              probeHamming: Int = 0): DataFrame = {
    val bucketed = emb.withColumn("bucket", lshBucket(col(vec), planes, dim))
    val q = bucketed.filter(col(id) === queryId)
      .select(asDouble(col(vec)).as("qv"), col("bucket").as("qbucket"))
    bucketed.filter(col(id) =!= queryId)
      .crossJoin(broadcast(q))
      // multi-probe: scan every bucket within Hamming distance
      // `probeHamming` of the query's bucket — a vector near a hyperplane
      // lands on either side, so the nearest neighbors concentrate in the
      // 1-bit-away buckets. probeHamming=0 is the classic single-bucket
      // probe (1/2^planes of the corpus); each +1 multiplies the scanned
      // fraction by ~planes/hamming but recovers most of the recall a
      // plane split away (measured: planes=4 recall@10 1/10 → 7/10 at
      // H=1, scanning 5/16 instead of 1/16).
      .filter(bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= probeHamming)
      .select(col(id), cosine(asDouble(col(vec)), col("qv")).as("cos"))
      .orderBy(desc("cos"), col(id))
      .limit(k)
  }

  // ------------------------------------------------------------------- IVF

  /** A built IVF index: the coarse-quantizer centroids (tiny, driver-side —
    * like the pinned-centroid collect, a sanctioned O(nLists·dim)
    * materialization) and the assigned corpus `(id, v, list_id)`. Build
    * once with [[ivfBuild]], persist with [[ivfWrite]] (partitioned by
    * `list_id` so probes prune whole partition directories), reopen with
    * [[ivfLoad]], and query with [[ivfProbe]]/[[ivfProbeById]]. */
  case class IvfIndex(centroids: Array[Array[Double]], corpus: DataFrame, id: String) {
    def nLists: Int = centroids.length
    /** The `nProbe` list ids nearest (squared L2) to a query vector,
      * ties broken by list id — driver-side over the tiny centroid set. */
    def probeLists(qv: Seq[Double], nProbe: Int): Seq[Int] = {
      // zip would silently TRUNCATE on a dimension mismatch — the probe
      // would pick lists from a partial distance and the downstream
      // cosine's length guard would then null every score, returning k
      // arbitrary ids as "neighbors"; fail loudly instead
      require(centroids.isEmpty || centroids.head.length == qv.length,
        s"query dim ${qv.length} != index dim ${centroids.head.length}")
      centroids.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).foldLeft(0.0) { case (a, (x, y)) => a + (x - y) * (x - y) }, i)
      }.sortBy(identity).take(nProbe).map(_._2).toSeq
    }
  }

  /** IVF index BUILD: one distributed KMeans fit over the corpus (the
    * coarse quantizer), then a scan-side assignment of every vector to its
    * nearest centroid's inverted list. Separate from probing so the
    * expensive fit runs once per corpus, not once per query — at 100 TB the
    * build is a batch job and probes are interactive. */
  def ivfBuild(emb: DataFrame, id: String, vec: String,
               nLists: Int = 16, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = emb.select(col(id), asDouble(col(vec)).as("v"))
      .withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(nLists).setSeed(seed).setFeaturesCol("fv")
      .setPredictionCol("list_id").fit(withVec)
    IvfIndex(model.clusterCenters.map(_.toArray),
      model.transform(withVec).select(col(id), col("v"), col("list_id")), id)
  }

  /** Persist a built index: the corpus Hive-partitioned by `list_id` —
    * THE layout that makes [[ivfProbe]] over a loaded index a
    * partition-pruned scan reading ~nProbe/nLists of the files
    * (ScaleSpec asserts the PartitionFilters land in the scan) — plus the
    * centroid table. */
  def ivfWrite(index: IvfIndex, path: String): Unit = {
    index.corpus.write.mode("overwrite")
      .partitionBy("list_id").parquet(s"$path/corpus")
    val spark = index.corpus.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reopen a persisted index for probing. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String,
              id: String): IvfIndex = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("list_id").collect().map(_.getSeq[Double](1).toArray)
    IvfIndex(cents, spark.read.parquet(s"$path/corpus"), id)
  }

  /** IVF PROBE: top-k neighbors of an arbitrary query vector — scores only
    * the `nProbe` nearest inverted lists. Over a loaded index the
    * `list_id` filter is a partition filter: non-probed lists are never
    * read from disk. The query vector is compiled into the plan as a
    * literal array (nothing to broadcast).
    *
    * MEASURED recall@10 vs [[bruteForceTopK]] (IvfRecallSpec re-measures
    * each run), sf0.1 embeddings (5000 × 64), nLists = 16, 10 queries:
    * nProbe=1 → 0.22, 2 → 0.46, 4 → 0.62, 16 → 1.00. The synthetic
    * embeddings are near-uniform (no cluster structure for the coarse
    * quantizer to exploit), so this is a WORST-case curve — real
    * embedding corpora sit far above it at the same scan fraction; at
    * nProbe = nLists the probe is exactly brute force (same cosine/tie
    * ordering). */
  def ivfProbe(index: IvfIndex, qv: Seq[Double], k: Int,
               nProbe: Int = 2): DataFrame =
    ivfScore(index, qv, k, nProbe, excludeId = None)

  /** [[ivfProbe]] by the id of a stored vector (excluded from its own
    * result, matching [[bruteForceTopK]]); throws if the id is absent. */
  def ivfProbeById(index: IvfIndex, queryId: Long, k: Int,
                   nProbe: Int = 2): DataFrame = {
    val qv = index.corpus.filter(col(index.id) === queryId)
      .select("v").head().getSeq[Double](0)
    ivfScore(index, qv, k, nProbe, excludeId = Some(queryId))
  }

  /** The ONE probe/score/order/limit pipeline both probe entry points
    * share, so scoring or tie-break changes can never diverge between
    * them. */
  private def ivfScore(index: IvfIndex, qv: Seq[Double], k: Int,
                       nProbe: Int, excludeId: Option[Long]): DataFrame = {
    val probe = index.probeLists(qv, nProbe)
    val base = index.corpus.filter(col("list_id").isin(probe.map(x => x: Any): _*))
    excludeId.fold(base)(q => base.filter(col(index.id) =!= q))
      .select(col(index.id),
        cosine(col("v"), array(qv.map(lit): _*)).as("cos"))
      .orderBy(desc("cos"), col(index.id))
      .limit(k)
  }

  /** One-shot convenience: build + probe in a single call. Prefer
    * [[ivfBuild]]/[[ivfWrite]]/[[ivfProbe]] when more than one query hits
    * the same corpus — this refits the quantizer per call. */
  def ivfTopK(emb: DataFrame,
              id: String, vec: String, queryId: Long, k: Int,
              nLists: Int = 16, nProbe: Int = 2, seed: Long = 42L): DataFrame =
    ivfProbeById(ivfBuild(emb, id, vec, nLists, seed), queryId, k, nProbe)

  /** Deterministic IVF for cross-engine gating: centroids are PINNED to the
    * embeddings of the `nLists` smallest vector ids instead of a KMeans fit,
    * so DuckDB can mirror the whole index bit-exactly. Exercises the same
    * IVF plumbing as [[ivfTopK]] — scan-side argmin assignment to a coarse
    * centroid, query probes the `nProbe` nearest inverted lists, scoring
    * scans only the probed fraction — with zero extra shuffles: the
    * centroids are a tiny sanctioned driver-side collect (like the as-of
    * broadcast build side) compiled into literal arrays, so assignment is
    * pure scan-side column algebra. Use [[ivfTopK]] (KMeans) when recall
    * per probed list matters; this variant is for verifying the machinery.
    *
    * Determinism of ties: assignment takes the min (sqdist, centroid idx)
    * struct; probing sorts by (sqdist, centroid idx). All distances are
    * strict left folds over doubles, mirrored by DuckDB's list_reduce. */
  def ivfTopKPinned(emb: DataFrame, id: String, vec: String, queryId: Long,
                    k: Int, nLists: Int = 8, nProbe: Int = 2): DataFrame = {
    val e = emb.select(col(id), asDouble(col(vec)).as("v"))
    val centRows = e.filter(col(id) < nLists).orderBy(col(id)).collect()
    // ids must be EXACTLY 0..nLists-1, not merely nLists of them (the
    // ADVICE r13 alignment rule, applied here as in pqTopKPinned):
    // duplicate or negative ids passing a count check would misalign the
    // positional centroid index against the mirror, which keys by id
    val centIds = centRows.map(_.getLong(0)).toSeq
    require(centIds == (0L until nLists.toLong),
      s"ivfTopKPinned pins centroids to ids 0..${nLists - 1} but found " +
        s"ids $centIds — the id space must be exactly that range")
    val cents: Array[Seq[Double]] = centRows.map(_.getSeq[Double](1))
    def sqdistTo(c: Seq[Double]): Column =
      aggregate(zip_with(col("v"), array(c.map(lit): _*), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x)
    val distStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct(sqdistTo(c).as("d"), lit(i).as("i"))
    }.toSeq: _*)
    val assigned = e.withColumn("list_id", array_min(distStructs).getField("i"))
    // probe lists: nProbe nearest centroids to the query vector, computed
    // driver-side over the nLists already-collected centroids
    val qv = e.filter(col(id) === queryId).head().getSeq[Double](1)
    def sqdLocal(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val probe = cents.zipWithIndex.map { case (c, i) => (sqdLocal(qv, c), i) }
      .sortBy(identity).take(nProbe).map(_._2)
    assigned.filter(col("list_id").isin(probe.map(x => x: Any).toSeq: _*))
      .filter(col(id) =!= queryId)
      // qv is already collected above — compile it into a literal array
      // like ivfProbe does; a broadcast of e.filter(...) here would scan
      // the corpus a second time just to re-fetch the same row
      .select(col(id), cosine(col("v"), array(qv.map(lit): _*)).as("cos"))
      .orderBy(desc("cos"), col(id))
      .limit(k)
  }

  /** Product-quantization ANN with asymmetric-distance scoring (Jégou,
    * Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI'11): vectors split into `m` subspaces of dim/m dims; each
    * subvector is ENCODED as the index of its nearest sub-codeword, so a
    * 64-dim float vector compresses to m=8 single-byte codes (32× at
    * rest and on the wire — the storage lever for 100 TB embedding
    * corpora, complementary to [[ivfTopKPinned]]'s scan pruning); the
    * query is NOT encoded — ADC looks each code up in a per-subspace
    * table of ||q_s − c_{s,j}||² and sums, which is why recall beats
    * symmetric code-to-code distance at equal bytes (the paper's §III).
    *
    * Determinism/gating: codebooks are PINNED to the subvectors of the
    * `nCodes` smallest ids (the [[ivfTopKPinned]] trick), so encode, the
    * ADC tables and the scan are all DuckDB-mirrorable bit-exactly: every
    * distance is a left fold in slice order (0.0 + e₁ ≡ e₁, matching
    * list_reduce's first-element init), per-subspace argmin takes the min
    * (dist, code) struct, and the m ADC terms sum in subspace order
    * (never a float GROUP BY — aggregate reorder would unpin the bits).
    * K-means codebooks drop in where recall matters; this variant gates
    * the machinery.
    *
    * Shape at scale: codebooks and the query's ADC tables are driver-side
    * literals over a sanctioned nCodes-row collect; encode + ADC are pure
    * scan-side column algebra; the top-k order-by-limit ships k rows per
    * partition (TakeOrderedAndProject). Zero shuffles before the top-k. */
  def pqTopKPinned(emb: DataFrame, id: String, vec: String, queryId: Long,
                   k: Int, m: Int = 8, nCodes: Int = 8,
                   dim: Int = 64): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"dim must split evenly into m subspaces: dim=$dim m=$m")
    val subDim = dim / m
    val e = emb.select(col(id), asDouble(col(vec)).as("v"))
    val centRows = e.filter(col(id) < nCodes)
      .orderBy(col(id)).collect()
    // ids must be EXACTLY 0..nCodes-1, not merely nCodes of them
    // (ADVICE r13): duplicate or negative ids passing a count check
    // would silently misalign the positional codebook index j against
    // the DuckDB mirror, which keys codewords by id directly.
    val centIds = centRows.map(_.getLong(0)).toSeq
    require(centIds == (0L until nCodes.toLong),
      s"pqTopKPinned pins codebooks to ids 0..${nCodes - 1} but found " +
        s"ids $centIds — the id space must be exactly that range")
    val cents: Array[Seq[Double]] = centRows.map(_.getSeq[Double](1))
    // pinned books(s)(j) = subspace s of the j-th pinned vector
    val books: Array[Array[Seq[Double]]] = Array.tabulate(m, nCodes) {
      (s, j) => cents(j).slice(s * subDim, (s + 1) * subDim)
    }
    pqAdcTopK(e, id, queryId, k, m, subDim, books)
  }

  /** Per-subspace trained PQ codebooks: `books(s)(j)` is the j-th
    * codeword of subspace s (subDim doubles each). */
  case class PqCodebooks(m: Int, subDim: Int,
                         books: Array[Array[Seq[Double]]])

  /** Train PQ codebooks (Jégou TPAMI'11 §II): an independent k-means per
    * subspace over the corpus's subvectors — the production quantizer
    * [[pqTopKPinned]] deliberately skips (its pinned codebooks are
    * arbitrary corpus vectors, recall ≈ 0.1 on the synthetic embeddings,
    * chosen for bit-exact mirrorability; PqSpec measures training
    * lifting recall at identical m/nCodes while the pinned gate stays
    * the oracle anchor — VERDICT r13 item 7). The m fits run as
    * concurrent Spark jobs over the SAME cached projection (the
    * ml/Clustering elbow precedent); each fit is corpus-scale k-means on
    * subDim-dim points, the exact [[ivfBuild]] shape. */
  def pqTrain(emb: DataFrame, id: String, vec: String, m: Int = 8,
              nCodes: Int = 8, dim: Int = 64, seed: Long = 42L): PqCodebooks = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(m >= 1 && dim % m == 0,
      s"dim must split evenly into m subspaces: dim=$dim m=$m")
    val subDim = dim / m
    val e = emb.select(asDouble(col(vec)).as("v")).cache()
    def fitSubspace(s: Int): Array[Seq[Double]] = {
      val sub = e.select(array_to_vector(
        slice(col("v"), s * subDim + 1, subDim)).as("fv"))
      new KMeans().setK(nCodes).setSeed(seed + s).setFeaturesCol("fv")
        .setPredictionCol("__c").fit(sub)
        .clusterCenters.map(_.toArray.toSeq)
    }
    // concurrent fits over the one cached projection; a failed fit stops
    // the queued ones before the unpersist (see Scale.concurrently)
    try PqCodebooks(m, subDim, Scale.concurrently(0 until m)(fitSubspace).toArray)
    finally { e.unpersist(); () }
  }

  /** ADC top-k with TRAINED codebooks — the production PQ path: same
    * encode/ADC/top-k pipeline as [[pqTopKPinned]] (shared private core,
    * so scoring or tie-break changes can never diverge), codebooks from
    * [[pqTrain]] instead of pinned corpus vectors. */
  def pqTopKTrained(emb: DataFrame, id: String, vec: String, queryId: Long,
                    k: Int, cb: PqCodebooks): DataFrame = {
    val e = emb.select(col(id), asDouble(col(vec)).as("v"))
    pqAdcTopK(e, id, queryId, k, cb.m, cb.subDim, cb.books)
  }

  /** The ONE PQ encode + ADC + top-k pipeline (pinned and trained entry
    * points share it): per-subspace argmin encode as a min (dist, code)
    * struct, driver-side query ADC tables in the same strict fold order,
    * scan-side ADC sum in subspace order, top-k by (adist, id). */
  private def pqAdcTopK(e: DataFrame, id: String, queryId: Long, k: Int,
                        m: Int, subDim: Int,
                        books: Array[Array[Seq[Double]]]): DataFrame = {
    val nCodes = books(0).length
    val qv = e.filter(col(id) === queryId).head().getSeq[Double](1)
    def sqdistTo(sub: Column, c: Seq[Double]): Column =
      aggregate(zip_with(sub, array(c.map(lit): _*), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x)
    // per-subspace encode: min (dist, code) struct over the codebook
    val coded = e.select(col(id) +: col("v") +: (0 until m).map { s =>
      val sub = slice(col("v"), s * subDim + 1, subDim)
      array_min(array(books(s).zipWithIndex.map { case (cw, j) =>
        struct(sqdistTo(sub, cw).as("d"), lit(j).as("i"))
      }.toSeq: _*)).getField("i").as(s"__c$s")
    }: _*)
    // ADC tables: ||q_s − c_{s,j}||², driver-side in the same fold order
    def sqdLocal(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val dtab: Array[Array[Double]] = Array.tabulate(m, nCodes) { (s, j) =>
      sqdLocal(qv.slice(s * subDim, (s + 1) * subDim), books(s)(j))
    }
    val adist = (0 until m).map { s =>
      element_at(array(dtab(s).map(lit).toSeq: _*), col(s"__c$s") + 1)
    }.reduce(_ + _)
    coded.filter(col(id) =!= queryId)
      .select(col(id), adist.as("adist"))
      .orderBy(asc("adist"), col(id))
      .limit(k)
  }

  /** IVF-PQ with asymmetric-distance scoring — the production ANN
    * composition (Jégou TPAMI'11 §V "IVFADC"): the coarse quantizer
    * prunes the SCAN (only the `nProbe` nearest inverted lists are
    * scored — [[ivfTopKPinned]]'s lever) and product quantization
    * compresses what remains (m one-byte codes per vector —
    * [[pqTopKPinned]]'s lever), with PQ encoding the RESIDUAL
    * `v − centroid(list)` rather than the raw vector, which is what
    * makes the two compose: residuals concentrate near zero so a shared
    * codebook covers every list. Scoring a probed list uses that list's
    * own query-residual ADC table.
    *
    * Determinism/gating: coarse centroids PIN to ids `0..nLists−1` and
    * codebooks to the DISJOINT range `nLists..nLists+nCodes−1` (exact
    * ranges required — the ADVICE r13 id-alignment rule), so assignment,
    * residuals, codes, probe set, and ADC tables are all
    * DuckDB-mirrorable bit-exactly: every distance is a strict left fold
    * in slice order, every argmin a min over (dist, idx), the m ADC
    * terms sum in subspace order. K-means centroids/codebooks
    * ([[ivfBuild]], [[pqTrain]]) drop in where recall matters; this
    * variant gates the composition.
    *
    * Shape at scale: centroids/codebooks/ADC tables are driver-side
    * literals over two sanctioned bounded collects; assignment, residual,
    * encode and ADC are pure scan-side column algebra over ONE corpus
    * pass; the unprobed lists drop at the scan filter (partition pruning
    * once the corpus is [[ivfWrite]]-partitioned by list); top-k ships k
    * rows per partition (TakeOrderedAndProject). Zero shuffles before
    * the top-k. */
  def ivfPqTopKPinned(emb: DataFrame, id: String, vec: String, queryId: Long,
                      k: Int, nLists: Int = 8, nProbe: Int = 2, m: Int = 8,
                      nCodes: Int = 8, dim: Int = 64): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"dim must split evenly into m subspaces: dim=$dim m=$m")
    require(nProbe >= 1 && nProbe <= nLists,
      s"nProbe must be in 1..$nLists: $nProbe")
    val subDim = dim / m
    val e = emb.select(col(id), asDouble(col(vec)).as("v"))
    def pinned(lo: Int, hi: Int, what: String): Array[Seq[Double]] = {
      val rows = e.filter(col(id) >= lo && col(id) < hi)
        .orderBy(col(id)).collect()
      val ids = rows.map(_.getLong(0)).toSeq
      require(ids == (lo.toLong until hi.toLong),
        s"ivfPqTopKPinned pins $what to ids $lo..${hi - 1} but found $ids")
      rows.map(_.getSeq[Double](1))
    }
    val cents = pinned(0, nLists, "centroids")
    val cbs = pinned(nLists, nLists + nCodes, "codebooks")
    // pinned codebooks are FULL-dim corpus vectors sliced per subspace —
    // the core's (s, j) accessor hides that from the shared pipeline
    ivfPqAdcTopK(e, id, queryId, k, nProbe, m, subDim, nCodes, cents,
      (s, j) => cbs(j).slice(s * subDim, (s + 1) * subDim))
  }

  /** Trained IVF-PQ index: [[ivfBuild]] coarse k-means centroids plus
    * [[pqTrain]] codebooks fitted on the RESIDUALS `v − centroid(list)`
    * (Jégou TPAMI'11 §III.A: residuals concentrate near zero, so one
    * per-subspace codebook covers every list — training on raw vectors
    * would spend codewords re-describing the coarse structure the lists
    * already removed). */
  case class IvfPqIndex(nLists: Int, m: Int, subDim: Int, nCodes: Int,
                        centroids: Array[Seq[Double]],
                        books: Array[Array[Seq[Double]]])

  /** Build a trained IVF-PQ index (VERDICT r14 item 4 — the pinned
    * composition and the trained codebooks existed separately; this
    * composes them): coarse centroids from [[ivfBuild]]'s corpus-scale
    * k-means, then [[pqTrain]]'s per-subspace k-means over the residual
    * frame. Both training passes are Spark jobs over scan-side column
    * algebra; the index itself is driver-side literals (nLists + m·nCodes
    * small vectors), the same sanctioned-bounded footprint as the pinned
    * variant. Query through [[ivfPqTopKTrained]], which shares ONE
    * encode/ADC/top-k core with the oracle-anchored pinned gate so the
    * two can never diverge. */
  def ivfPqBuild(emb: DataFrame, id: String, vec: String,
                 nLists: Int = 8, m: Int = 8, nCodes: Int = 8,
                 dim: Int = 64, seed: Long = 42L): IvfPqIndex = {
    require(m >= 1 && dim % m == 0,
      s"dim must split evenly into m subspaces: dim=$dim m=$m")
    val idx = ivfBuild(emb, id, vec, nLists, seed)
    val centsLit = array(idx.centroids.map(c =>
      array(c.toSeq.map(lit): _*)).toSeq: _*)
    val resid = idx.corpus.select(
      zip_with(col("v"), element_at(centsLit, col("list_id") + 1),
        (x, y) => x - y).as("__rv"))
    val cb = pqTrain(resid, id, "__rv", m, nCodes, dim, seed)
    IvfPqIndex(nLists, m, dim / m, nCodes, idx.centroids.map(_.toSeq), cb.books)
  }

  /** ADC top-k over a TRAINED IVF-PQ index — the production ANN path:
    * same probe/encode/ADC/top-k pipeline as [[ivfPqTopKPinned]] (shared
    * private core), centroids and residual codebooks from
    * [[ivfPqBuild]]. */
  def ivfPqTopKTrained(emb: DataFrame, id: String, vec: String,
                       queryId: Long, k: Int, nProbe: Int,
                       index: IvfPqIndex): DataFrame = {
    require(nProbe >= 1 && nProbe <= index.nLists,
      s"nProbe must be in 1..${index.nLists}: $nProbe")
    val e = emb.select(col(id), asDouble(col(vec)).as("v"))
    ivfPqAdcTopK(e, id, queryId, k, nProbe, index.m, index.subDim,
      index.nCodes, index.centroids, (s, j) => index.books(s)(j))
  }

  /** The ONE IVF-PQ probe + residual-encode + ADC + top-k pipeline
    * (pinned and trained entry points share it): coarse assignment as a
    * min (full-dim sqdist, centroid idx) struct, element-wise residual,
    * per-subspace argmin encode against `bookAt(s, j)`, driver-side
    * per-probed-list query-residual ADC tables in strict fold order,
    * top-k by (adist, id). */
  private def ivfPqAdcTopK(e: DataFrame, id: String, queryId: Long, k: Int,
                           nProbe: Int, m: Int, subDim: Int, nCodes: Int,
                           cents: Array[Seq[Double]],
                           bookAt: (Int, Int) => Seq[Double]): DataFrame = {
    def subSeq(x: Seq[Double], s: Int): Seq[Double] =
      x.slice(s * subDim, (s + 1) * subDim)
    def sqdistTo(sub: Column, c: Seq[Double]): Column =
      aggregate(zip_with(sub, array(c.map(lit): _*), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x)
    // coarse assignment: min (full-dim sqdist, centroid idx) struct
    val distStructs = array(cents.zipWithIndex.map { case (c, i) =>
      struct(sqdistTo(col("v"), c).as("d"), lit(i).as("i"))
    }.toSeq: _*)
    val centsLit = array(cents.map(c => array(c.map(lit): _*)).toSeq: _*)
    val assigned = e
      .withColumn("list_id", array_min(distStructs).getField("i"))
      // residual against the assigned centroid, element-wise (no fold)
      .withColumn("__rv",
        zip_with(col("v"), element_at(centsLit, col("list_id") + 1),
          (x, y) => x - y))
    // per-subspace encode of the RESIDUAL: min (dist, code) struct
    val coded = assigned.select(
      col(id) +: col("list_id") +: (0 until m).map { s =>
        val sub = slice(col("__rv"), s * subDim + 1, subDim)
        array_min(array((0 until nCodes).map { j =>
          struct(sqdistTo(sub, bookAt(s, j)).as("d"), lit(j).as("i"))
        }: _*)).getField("i").as(s"__c$s")
      }: _*)
    // probe lists + per-list query-residual ADC tables, driver-side
    def sqdLocal(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val qv = e.filter(col(id) === queryId).head().getSeq[Double](1)
    val probe: Seq[Int] = cents.zipWithIndex
      .map { case (c, i) => (sqdLocal(qv, c), i) }
      .sortBy(identity).take(nProbe).map(_._2).toSeq
    val dtab: Map[Int, Array[Array[Double]]] = probe.map { l =>
      val qr = qv.zip(cents(l)).map { case (x, y) => x - y }
      l -> Array.tabulate(m, nCodes) { (s, j) =>
        sqdLocal(subSeq(qr, s), bookAt(s, j))
      }
    }.toMap
    def adistFor(l: Int): Column = (0 until m).map { s =>
      element_at(array(dtab(l)(s).map(lit).toSeq: _*), col(s"__c$s") + 1)
    }.reduce(_ + _)
    val adist = probe.tail.foldLeft(
      when(col("list_id") === probe.head, adistFor(probe.head))) {
      (acc, l) => acc.when(col("list_id") === l, adistFor(l))
    }
    coded.filter(col("list_id").isin(probe.map(x => x: Any): _*))
      .filter(col(id) =!= queryId)
      .select(col(id), col("list_id").cast("long").as("list_id"),
        adist.as("adist"))
      .orderBy(asc("adist"), col(id))
      .limit(k)
  }

  /** Int8 symmetric quantization of an embedding column: per-vector scale =
    * max(|x|)/127, elements rounded to [-127,127]. 4× smaller at rest and on
    * the wire — the storage/shuffle lever for 100 TB embedding corpora;
    * cosine on dequantized vectors stays within ~1% of full precision
    * (see OpsSpec). Output: (… , q: array<tinyint>, scale: double) —
    * overwriting any pre-existing `q`/`scale` columns on the input.
    * Precondition: vectors must be non-zero — an all-zero vector has
    * scale 0, and 0/0 THROWS under Spark 4's default ANSI mode (yields
    * NaN→null tinyints with ANSI off); filter such rows first. */
  def quantizeInt8(emb: DataFrame, vec: String): DataFrame = {
    val v = asDouble(col(vec))
    val scale = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x))) / lit(127.0)
    emb.withColumn("scale", scale)
      .withColumn("q", transform(v, x =>
        round(x / col("scale")).cast("tinyint")))
  }

  /** Dequantized double vector from (q, scale). */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Embedding-cosine near-dup pairs: candidates share an LSH bucket, then
    * exact cosine >= threshold. Bucket equi-join keeps this O(bucket²)
    * instead of O(N²). */
  def cosinePairs(emb: DataFrame, id: String, vec: String, threshold: Double,
                  planes: Int = 8, dim: Int = 64): DataFrame = {
    // precompute each row's norm scan-side: the pair join then does ONE dot
    // product per candidate instead of three (same doubles — identical
    // expression over identical inputs — so still oracle-exact)
    // repartition on the bucket join key: both self-join sides share one
    // shuffle (ReuseExchange), so the 2^planes dot products per row for
    // the LSH bucket + the norm compute run once, not per side
    val b = emb.select(col(id), asDouble(col(vec)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes, dim))
      .withColumn("nrm", norm(col("v")))
      .repartition(col("bucket"))
    b.toDF("id1", "v1", "bucket", "n1")
      .join(b.toDF("id2", "v2", "bucket", "n2"), Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", 2023): cluster
    * the embeddings, then mark as duplicate every document whose cosine to a
    * SMALLER-id document in the SAME cluster reaches `threshold` — the
    * min-id doc of each semantic group survives, deterministically. Output:
    * one row per vector (id, list_id, is_dup, dup_of) with dup_of = the
    * smallest qualifying partner (null for kept rows).
    *
    * This pinned-centroid variant reuses the [[ivfTopKPinned]] trick —
    * centroids are the embeddings of the `nLists` smallest ids, collected
    * driver-side (tiny, sanctioned) and compiled into scan-side argmin
    * column algebra — so DuckDB mirrors the whole pipeline bit-exactly.
    * Production would swap the pinned centroids for a KMeans fit
    * ([[ivfBuild]]); everything downstream is identical.
    *
    * Shape at scale: clustering is THE SemDeDup trick — the pair join keys
    * on list_id, so comparisons are O(Σ cluster²) not O(N²), and the
    * cluster count is chosen to bound cluster size (the paper uses ~11k
    * clusters for 233M docs). The repartition on list_id lets ReuseExchange
    * share one materialization of the assign+norm pipeline across both
    * self-join sides. A pathologically hot cluster is the same failure mode
    * as a hot LSH bucket — raise nLists (real KMeans splits dense regions
    * by construction) the way [[Dedup.DefaultMaxBandBucketSize]] caps
    * band buckets. */
  def semDedupPinned(emb: DataFrame, id: String, vec: String,
                     nLists: Int = 8, threshold: Double = 0.5): DataFrame = {
    val e = emb.select(col(id), asDouble(col(vec)).as("v"))
    val assigned = e.withColumn("list_id",
      array_min(pinnedDistStructs(e, id, nLists)._2).getField("i"))
    semDedupAssigned(assigned, id, threshold)
  }

  /** Collected pinned-centroid vectors plus the scan-side (sqdist, index)
    * structs to them (the embeddings with id < nLists) — `array_min(...)`
    * over the structs is the argmin assignment, shared by
    * [[semDedupPinned]] and [[centroidDistPinned]]; the vectors come back
    * too so callers needing them (the centroid broadcast side) reuse the
    * one collect instead of re-scanning the table. */
  private def pinnedDistStructs(e: DataFrame, id: String,
                                nLists: Int): (Array[Seq[Double]], Column) = {
    val centRows = e.filter(col(id) < nLists).orderBy(col(id)).collect()
    // the pin assumes ids EXACTLY 0..nLists-1: with a sparse or
    // non-zero-based id space the centroid array comes back short (and
    // array_min over a short struct array silently misassigns), and
    // duplicate/negative ids passing a count-only check would misalign
    // the positional index against the id-keyed mirror (ADVICE r13) —
    // fail loudly on the exact range instead
    val centIds = centRows.map(_.getLong(0)).toSeq
    require(centIds == (0L until nLists.toLong),
      s"pinned centroids require ids 0..${nLists - 1} but found " +
        s"ids $centIds — the id space must be exactly that range")
    val cents: Array[Seq[Double]] = centRows.map(_.getSeq[Double](1))
    def sqdistTo(c: Seq[Double]): Column =
      aggregate(zip_with(col("v"), array(c.map(lit): _*), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x)
    (cents, array(cents.zipWithIndex.map { case (c, i) =>
      struct(sqdistTo(c).as("d"), lit(i).as("i"))
    }.toSeq: _*))
  }

  /** Prototypicality signal (the pruning metric of Sorscher et al.,
    * "Beyond neural scaling laws", 2022, and SemDeDup's §4 extreme-point
    * analysis): each embedding's assigned cluster, its squared distance
    * to the centroid, and its cosine to the centroid. Low cosine = an
    * outlier in its cluster (candidate for quality pruning); very high
    * cosine = redundantly prototypical (candidate for diversity
    * pruning). Pinned-centroid variant for the oracle — production swaps
    * in [[ivfBuild]]'s KMeans centroids, everything downstream is the
    * same column algebra.
    *
    * Shape at scale: the argmin and sqdist are scan-side column algebra
    * (no shuffle); the centroid vectors come back via a BROADCAST join
    * on list_id (nLists rows). Precondition: non-zero vectors (a zero
    * norm makes the cosine division THROW under ANSI, same as
    * [[quantizeInt8]]). */
  def centroidDistPinned(emb: DataFrame, id: String, vec: String,
                         nLists: Int = 8): DataFrame = {
    val e = emb.select(col(id), asDouble(col(vec)).as("v"))
    val (cents, distStructs) = pinnedDistStructs(e, id, nLists)
    val m = array_min(distStructs)
    // the centroid vectors are ALREADY on the driver (the pin collect) —
    // build the broadcast side as a local relation instead of re-scanning
    // the full embeddings table a second time just to filter nLists rows
    import e.sparkSession.implicits._
    val cdf = cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("list_id", "cv")
      .withColumn("cv", col("cv").cast("array<double>"))
      .withColumn("cnrm", norm(col("cv")))
    e.withColumn("list_id", m.getField("i"))
      .withColumn("sqdist", m.getField("d"))
      .join(broadcast(cdf), Seq("list_id"))
      .select(col(id), col("list_id"), col("sqdist"),
        (dot(col("v"), col("cv")) / (norm(col("v")) * col("cnrm"))).as("cos_c"))
  }

  /** SemDeDup core over an already-clustered corpus `(id, v, list_id)` —
    * the shape [[IvfIndex.corpus]] provides, so the production path is
    * `semDedupIndexed(ivfBuild(...), threshold)`: the coarse quantizer is
    * fit once per corpus (a batch job at 100 TB) and the dedup pass is a
    * within-list pair join over it, partition-pruned when the index was
    * [[ivfWrite]]-persisted. Pair semantics identical to
    * [[semDedupPinned]] (which gates this exact code path through the
    * DuckDB oracle with pinned centroids). */
  def semDedupAssigned(assigned0: DataFrame, id: String,
                       threshold: Double): DataFrame = {
    val assigned = assigned0
      .withColumn("nrm", norm(col("v")))
      .repartition(col("list_id"))
    val dups = assigned.select(col(id).as("id1"), col("v").as("v1"),
        col("list_id"), col("nrm").as("n1"))
      .join(assigned.select(col(id).as("id2"), col("v").as("v2"),
        col("list_id"), col("nrm").as("n2")), Seq("list_id"))
      .filter(col("id1") < col("id2"))
      .filter(dot(col("v1"), col("v2")) / (col("n1") * col("n2")) >= threshold)
      .groupBy(col("id2")).agg(min(col("id1")).as("dup_of"))
    assigned.select(col(id), col("list_id"))
      .join(dups.withColumnRenamed("id2", id), Seq(id), "left")
      .select(col(id), col("list_id"),
        col("dup_of").isNotNull.cast("int").as("is_dup"), col("dup_of"))
  }

  /** [[semDedupAssigned]] over a built (or loaded) IVF index — the
    * KMeans-clustered production variant of [[semDedupPinned]]. */
  def semDedupIndexed(index: IvfIndex, threshold: Double): DataFrame =
    semDedupAssigned(index.corpus, index.id, threshold)

  /** Margin-based bitext mining (Artetxe & Schwenk, "Margin-based Parallel
    * Corpus Mining with Multilingual Sentence Embeddings", ACL 2019 — the
    * CCMatrix/LASER mining criterion): for each SOURCE sentence embedding,
    * find the TARGET whose cosine similarity stands out most against both
    * sides' kNN neighborhoods. Raw cosine mines pairs in dense "hubness"
    * regions where everything looks similar; the ratio margin
    *
    *   margin(x, y) = cos(x, y) / ((avgF(x) + avgB(y)) / 2)
    *
    * — where avgF(x) is the mean cosine of x's k nearest targets and
    * avgB(y) the mean over y's k nearest sources — normalizes that away
    * (the paper's `ratio` variant, its best performer). Output: each
    * source's best target by (margin desc, target id) with margin above
    * `threshold` (1.0 = "better than the neighborhood average"), columns
    * (src_id, tgt_id, cos, margin).
    *
    * Scale shape: the all-pairs cosine set is never materialized as a
    * broadcast — the target side is hash-bucketed on its id and the
    * source side replicated per bucket through a SHUFFLE_HASH equi-join,
    * exactly the [[knnJoinShuffled]] distribution (replication cost
    * |src| × `buckets` rows, spread by the shuffle). Both neighborhood
    * lists are bounded-heap [[graft.functions.TopKAgg]] aggregates
    * (map-side combined, k entries per key through the shuffle — never a
    * per-key sort), and the margin join touches only |src| × k candidate
    * rows against two id-keyed average tables. The pairs lineage feeds
    * two aggregations, so it is evaluated twice; at 100 TB a caller
    * mining a frontier pins `pairs` to storage once instead — both
    * passes are embarrassingly parallel either way. Sources and targets
    * must be disjoint id spaces (two languages' sentence sets); no
    * self-exclusion is applied. */
  def bitextMargin(src: DataFrame, sid: String, svec: String,
                   tgt: DataFrame, tid: String, tvec: String,
                   k: Int, threshold: Double, buckets: Int = 32): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val s = src.select(col(sid).as("src_id"), asDouble(col(svec)).as("sv"))
      .withColumn("sn", norm(col("sv")))
      // replicate each source row to every target bucket (see scaladoc)
      .withColumn("__bkt", explode(sequence(lit(0), lit(buckets - 1))))
    val t = tgt.select(col(tid).as("tgt_id"), asDouble(col(tvec)).as("tv"))
      .withColumn("tn", norm(col("tv")))
      .withColumn("__bkt", pmod(hash(col("tgt_id")), lit(buckets)))
    val pairs = t.hint("SHUFFLE_HASH").join(s, "__bkt")
      .select(col("src_id"), col("tgt_id"),
        when(col("sn") * col("tn") =!= 0.0,
          dot(col("sv"), col("tv")) / (col("sn") * col("tn"))).as("cos"))
    marginFromPairs(pairs, k, threshold)
  }

  /** LSH-bucketed [[bitextMargin]] — the sub-all-pairs scale path: both
    * sides hash to their random-hyperplane bucket ([[lshBucket]], the
    * same seeded planes as [[lshTopK]]) and candidates, neighborhood
    * lists, and margins all restrict to same-bucket pairs. Work drops
    * from |src|·|tgt| to Σ_b |src_b|·|tgt_b| (~|src|·|tgt|/2^planes at
    * uniform spread) at the usual LSH recall trade ([[lshTopK]]'s
    * measured recall table). Size `planes` so 2^planes comfortably
    * exceeds the cluster's shuffle parallelism — the bucket is the join
    * key, so too few planes concentrates work AND degrades the
    * neighborhood normalization (margins computed against in-bucket
    * neighborhoods only). A source whose bucket holds no targets mines
    * nothing — exactly the FAISS-sharded behavior of the published
    * pipelines. */
  def bitextMarginLsh(src: DataFrame, sid: String, svec: String,
                      tgt: DataFrame, tid: String, tvec: String,
                      k: Int, threshold: Double,
                      planes: Int = 8, dim: Int = 64): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(planes > 0 && planes < 63, s"planes must be in [1, 62], got $planes")
    val s = src.select(col(sid).as("src_id"), asDouble(col(svec)).as("sv"))
      .withColumn("sn", norm(col("sv")))
      .withColumn("__bkt", lshBucket(col("sv"), planes, dim))
    val t = tgt.select(col(tid).as("tgt_id"), asDouble(col(tvec)).as("tv"))
      .withColumn("tn", norm(col("tv")))
      .withColumn("__bkt", lshBucket(col("tv"), planes, dim))
    val pairs = t.hint("SHUFFLE_HASH").join(s, "__bkt")
      .select(col("src_id"), col("tgt_id"),
        when(col("sn") * col("tn") =!= 0.0,
          dot(col("sv"), col("tv")) / (col("sn") * col("tn"))).as("cos"))
    marginFromPairs(pairs, k, threshold)
  }

  /** The shared margin pipeline over a scored candidate-pair stream:
    * kNN-average normalization, forward best-match selection, threshold.
    * Extracted so the exact and LSH-bucketed miners cannot drift. */
  private def marginFromPairs(pairs: DataFrame, k: Int,
                              threshold: Double): DataFrame = {
    // TopKAgg skips null scores, so zero-norm rows simply have no
    // neighborhood (and mine nothing) instead of poisoning averages
    val fwd = pairs.groupBy(col("src_id"))
      .agg(graft.functions.TopKAgg.top_k(col("cos"), col("tgt_id"), k).as("top"))
    val bwd = pairs.groupBy(col("tgt_id"))
      .agg(graft.functions.TopKAgg.top_k(col("cos"), col("src_id"), k).as("top"))
    // mean over the heap's array IN ITS RANK ORDER (best first, ties to
    // the smaller id) — a fixed summation order, so the DuckDB oracle can
    // reproduce the float sum bit-for-bit with the same ordered fold
    def knnAvg(top: Column): Column =
      aggregate(top, lit(0.0), (acc, x) => acc + x.getField("score")) /
        size(top).cast("double")
    val avgF = fwd.select(col("src_id"), knnAvg(col("top")).as("avg_f"))
    val avgB = bwd.select(col("tgt_id"), knnAvg(col("top")).as("avg_b"))
    val cand = fwd.select(col("src_id"), explode(col("top")).as("c"))
      .select(col("src_id"), col("c.id").as("tgt_id"), col("c.score").as("cos"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id"))
    cand.join(avgF, "src_id").join(avgB, "tgt_id")
      .withColumn("margin",
        col("cos") / ((col("avg_f") + col("avg_b")) / lit(2.0)))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1 && col("margin") > threshold)
      .select(col("src_id"), col("tgt_id"), col("cos"), col("margin"))
  }

  /** Matryoshka truncation audit (Kusupati et al. NeurIPS'22, MRL):
    * recall@k of top-k retrieval run on the first `prefixDims`
    * dimensions against the full-dimension ground truth — the
    * measurement that decides whether an index can store truncated
    * vectors (4–8× memory/IO savings at serving time) for a given
    * embedding column. Per query: ground-truth list size, overlap
    * count, and recall in exact integer permille.
    *
    * Both retrieval passes are [[knnJoin]] (bounded-heap top-k, k rows
    * per query through each shuffle); the prefix pass feeds slice()d
    * copies through the same operator, so the audit inherits knnJoin's
    * scale shape twice plus two query-sized joins — nothing here grows
    * with the corpus beyond the two scans. */
  def matryoshkaRecall(emb: DataFrame, id: String, vec: String,
                       queries: DataFrame, qid: String, qvec: String,
                       k: Int, prefixDims: Int): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    def truncated(df: DataFrame, i: String, v: String) =
      df.select(col(i), slice(asDouble(col(v)), 1, prefixDims).as(v))
    val full = knnJoin(emb, id, vec, queries, qid, qvec, k)
      .select(col("query_id"), col(id))
    val pre = knnJoin(truncated(emb, id, vec), id, vec,
        truncated(queries, qid, qvec), qid, qvec, k)
      .select(col("query_id"), col(id))
    val nFull = full.groupBy(col("query_id")).agg(count(lit(1)).as("n_full"))
    val nOv = full.join(pre, Seq("query_id", id))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    nFull.join(nOv, Seq("query_id"), "left")
      .select(col("query_id"), col("n_full"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_permille",
        expr("(1000 * n_overlap) DIV n_full"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * SIGIR'98): greedily pick `k` results from the relevance top-`poolSize`
    * so each next pick maximizes `λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)` —
    * the redundancy-penalized selection that keeps a near-dup-heavy
    * candidate pool from filling the whole result list with one cluster.
    *
    * Shape at scale: ONE corpus-sized pass ([[knnJoin]]) reduces each
    * query to a `poolSize` candidate pool; everything after — the
    * pool×pool similarity table (`poolSize²` rows per query) and the
    * k−1 greedy rounds (each an anti-join + max-aggregate + argmax
    * window, all keyed on query_id) — is arithmetic on query-sized
    * frames, so corpus growth only touches the first pass. The greedy
    * loop is inherently sequential in k; k is small by construction
    * (a result page). For large k, localCheckpoint the pool first —
    * each round's plan otherwise re-derives it. Selection order is
    * total (score desc, id asc) so results are deterministic;
    * `sel_score` carries the objective value at selection time (pure
    * cos for rank 1, the MMR value after).
    *
    * Pool contract (VERDICT r11 item 7): the pool×pool table is
    * poolSize² ROWS PER QUERY materialized through one hash join — flat
    * in corpus size but quadratic in the pool, so the ceiling is a hard
    * `require` at 1024 (≤ ~1M pair rows/query — ~24 MB of (long, long,
    * double) rows, comfortably one task). A "bigger pool" above that is
    * asking MMR to diversify a corpus slice, not a result pool — shrink
    * the pool with a tighter first-pass k, or pre-cluster instead. */
  def mmrTopK(emb: DataFrame, id: String, vec: String,
              queries: DataFrame, qid: String, qvec: String,
              k: Int, poolSize: Int, lambda: Double = 0.7,
              penalty: Double = 0.3): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need poolSize >= k >= 1: $k, $poolSize")
    require(poolSize <= 1024,
      s"poolSize > 1024 materializes >1M pair rows per query " +
        s"(poolSize^2 = ${poolSize.toLong * poolSize}); got $poolSize")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    // `penalty` is an explicit weight rather than a computed 1−λ: the
    // binary subtraction 1.0−0.7 rounds to 0.30000000000000004, while a
    // reference engine parsing the DECIMAL literal 0.3 (DuckDB folds
    // (1.0−0.7) exactly in decimal) lands on 0.29999999999999999 — a
    // one-ulp MMR disagreement that can flip tie-adjacent selections.
    // Passing both weights as literals keeps every engine on the same
    // doubles. (Found by the oracle gate, round 11.)
    require(penalty >= 0.0 && penalty <= 1.0, s"penalty in [0,1]: $penalty")
    val pool = knnJoin(emb, id, vec, queries, qid, qvec, poolSize)
      .select(col("query_id"), col(id), col("cos"))
    val pv = pool.join(emb.select(col(id), asDouble(col(vec)).as("__v")), Seq(id))
      .select(col("query_id"), col(id), col("__v"))
    val sims = pv.select(col("query_id"), col(id).as("cand"), col("__v").as("__va"))
      .join(pv.select(col("query_id"), col(id).as("other"), col("__v").as("__vb")),
        Seq("query_id"))
      .filter(col("cand") =!= col("other"))
      .select(col("query_id"), col("cand"), col("other"),
        cosine(col("__va"), col("__vb")).as("sim"))
    val w1 = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col(id))
    var selected = pool.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col(id).as("sel_id"),
        lit(1).as("sel_rank"), col("cos").as("sel_score"))
    for (t <- 2 to k) {
      val remaining = pool.join(
        selected.select(col("query_id"), col("sel_id").as(id)),
        Seq("query_id", id), "left_anti")
      val ms = sims.join(
          selected.select(col("query_id"), col("sel_id").as("other")),
          Seq("query_id", "other"))
        .groupBy(col("query_id"), col("cand").as(id))
        .agg(max(col("sim")).as("__msim"))
      val wT = Window.partitionBy(col("query_id")).orderBy(desc("__mmr"), col(id))
      val next = remaining.join(ms, Seq("query_id", id))
        .withColumn("__mmr",
          lit(lambda) * col("cos") - lit(penalty) * col("__msim"))
        .withColumn("__rn", row_number().over(wT))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col(id).as("sel_id"),
          lit(t).as("sel_rank"), col("__mmr").as("sel_score"))
      selected = selected.unionByName(next)
    }
    selected
  }
}
