package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import TextAnalysis._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH (Broder, "On the resemblance and containment of
  * documents", 1997), SimHash (Charikar, "Similarity estimation techniques
  * from rounding algorithms", STOC'02), and near-dup connected components.
  * All are declarative DataFrame plans over the portable md5-based
  * [[TextAnalysis.hash60]], so every variant is deterministic and (where
  * practical) DuckDB-oracle-checkable.
  *
  * 100 TB design notes:
  *  - candidate generation always goes through a bucket/band equi-join, so
  *    the shuffle key is the band/bucket, never an all-pairs cross join;
  *  - shingles are distinct-per-doc before the join (bounds fan-out by
  *    document length, not token frequency);
  *  - `maxShingleDocFreq` drops stop-shingles (present in > N docs) before
  *    pairing — the skew/salting valve for hot n-grams at scale.
  */
object Dedup {

  /** Default hot-shingle document-frequency cap for [[ngramJaccardPairs]]:
    * pair-join fan-out per shingle is bounded by cap², so 1024 caps any one
    * shingle at ≤ ~0.5 M candidate rows regardless of corpus size. Small
    * corpora (fewer docs than the cap) are unaffected — which is also why
    * the `dedup_ngram_jaccard` oracle, whose DuckDB SQL computes the
    * uncapped jaccard, stays bit-identical at the gate SF. */
  val DefaultMaxShingleDocFreq: Option[Int] = Some(1024)

  /** Default band-bucket size cap for [[minhashLshPairs]] and
    * [[simhashPairs]] — the same skew valve as [[DefaultMaxShingleDocFreq]]
    * but for the LSH candidate joins: a band bucket holding d documents
    * fans out to d·(d−1)/2 candidate rows, and a mass-duplicated page (the
    * classic web-corpus failure) puts ALL its copies in the SAME bucket of
    * every band. 1024 bounds any one bucket at ≤ ~0.5 M candidate rows.
    * Dropping an over-full bucket only removes candidate EVIDENCE — a pair
    * can still surface through any other band where the two docs share a
    * smaller bucket — so the capped pair set is a subset of the uncapped
    * one; it never invents pairs. Corpora with massive exact-duplicate
    * groups should run [[exact]] first (that is what fills buckets). */
  val DefaultMaxBandBucketSize: Option[Int] = Some(1024)

  /** Exact dedup: fingerprint group → canonical id (min doc id) per group.
    * One window over the fingerprint hash partition; at scale this is a
    * single hash shuffle on the fingerprint. */
  def exact(df: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    // fingerprinting (regex normalize + md5) is the scan-side cost — widen
    // few-splits inputs before it, not after
    graft.operators.Scale.balanceToCores(df)
      .select(col(id), fingerprint(col(text)).as("fp"))
      .withColumn("canonical_id", min(col(id)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_dup", (col(id) =!= col("canonical_id")).cast("int"))
      .select(col(id), col("fp"), col("canonical_id"), col("group_size"), col("is_dup"))
  }

  /** [[exact]] under an aggregate-then-rejoin shape instead of the double
    * window: groupBy(fp) computes (canonical_id, group_size) with map-side
    * partial aggregation, then joins back onto the (id, fp) projection.
    * Identical output to [[exact]] (spec-asserted). Trade at scale: the
    * window is ONE full-data shuffle + per-partition sort; this is a
    * (mostly map-combined) partial-agg shuffle + a full-data shuffle join —
    * it wins when fp groups are heavily skewed (a hot fingerprint lands on
    * one window partition, while partial agg absorbs it map-side) and loses
    * on near-unique corpora where the combine buys nothing. Benchmarked
    * head-to-head as `dedup_exact` vs `dedup_exact_agg` (sf0.1 documents,
    * near-unique: window 0.38 s vs agg+rejoin 0.86 s — the second full-data
    * shuffle costs ~2×, so [[exact]] is the default; keep this shape for
    * skewed-duplicate corpora). */
  def exactViaAgg(df: DataFrame, id: String, text: String): DataFrame = {
    val sh = graft.operators.Scale.balanceToCores(df)
      .select(col(id), fingerprint(col(text)).as("fp"))
    val groups = sh.groupBy(col("fp"))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("group_size"))
    sh.join(groups, Seq("fp"))
      .withColumn("is_dup", (col(id) =!= col("canonical_id")).cast("int"))
      .select(col(id), col("fp"), col("canonical_id"), col("group_size"), col("is_dup"))
  }

  /** Soft deduplication: keep EVERY copy but down-weight duplicated
    * content so each distinct text contributes one document's worth of
    * sampling mass — `weight_permille = 1000 DIV group_size` on top of
    * [[exact]]'s fingerprint groups. The reweighting alternative to hard
    * removal (SoftDeDup-style, cf. He et al. ACL'24): dropping duplicates
    * discards the evidence that text was independently published many
    * times, while full weight lets a boilerplate page dominate the
    * sampler; per-group-uniform mass keeps the corpus distribution equal
    * to the deduplicated one IN EXPECTATION without deleting rows.
    * `hard_keep` carries what [[exact]] would have kept, so one output
    * serves both policies and the Σweight ≈ n_distinct invariant is
    * checkable downstream. Same single fingerprint shuffle as [[exact]];
    * the weight is a scan-side epilogue. */
  def softWeights(df: DataFrame, id: String, text: String): DataFrame =
    exact(df, id, text)
      .withColumn("weight_permille", expr("1000 DIV group_size"))
      .withColumn("hard_keep", (lit(1) - col("is_dup")).cast("int"))
      .drop("is_dup")

  /** Distinct word n-gram shingles per document: (id, shingle).
    * Tokenization is materialized into its own projection first — inlining
    * `tokens(text)` into the shingle lambda would re-run the split per
    * element_at (≈3×shingle-count per row; measured 40× slower at sf0.1). */
  def shingles(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val t = col("__tokens")
    val sh = when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*))
    ).otherwise(array())
    // few-splits inputs (single-row-group fixture files) would run the
    // whole tokenize+shingle explode on one task — balance first (no-op
    // when input splits already cover the cores)
    graft.operators.Scale.balanceToCores(df)
      .select(col(id), tokens(col(text)).as("__tokens"))
      .select(col(id), explode(array_distinct(sh)).as("shingle"))
  }

  /** Held-out n-gram novelty — the dataset-card "% novel n-grams"
    * number (the memorization-risk proxy GPT-2/GPT-3 style cards
    * report): of the held-out split's DISTINCT n-gram shingles, how
    * many never occur in the train split. Low novelty means the
    * held-out set mostly re-states training text and its eval numbers
    * measure recall, not generalization.
    *
    * Shape at scale: both sides collapse to vocabulary-sized distinct
    * hashed-shingle frames (one map-side-combined aggregate each, 8-byte
    * keys only — [[hashedShingles]]); the left join between them keys on
    * the same hash both sides are already partitioned by, so it adds no
    * third exchange; the final count is a single map-side-combined row.
    * The corpus text never shuffles. Returns one row
    * (n_held_distinct, n_novel, novelty_permille) — the permille an
    * exact BIGINT floor division. */
  def ngramNovelty(train: DataFrame, held: DataFrame, id: String,
                   text: String, n: Int = 3): DataFrame = {
    val tr = hashedShingles(train, id, text, n).select(col("h")).distinct()
      .withColumn("__seen", lit(1))
    val hd = hashedShingles(held, id, text, n).select(col("h")).distinct()
    hd.join(tr, Seq("h"), "left")
      .agg(count(lit(1)).as("n_held_distinct"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("n_held_distinct"), col("n_novel"),
        when(col("n_held_distinct") > 0,
          expr("(n_novel * 1000L) DIV n_held_distinct"))
          .otherwise(lit(0L)).as("novelty_permille"))
  }

  /** Corpus-wide boilerplate shingle mining: the distinct-per-doc n-gram
    * shingles whose document frequency is ≥ `minDf` — the actual STRINGS
    * (unlike [[hashedShingles]]' longs), because the point is a human- or
    * rule-readable boilerplate list (navigation bars, cookie banners,
    * license headers) to feed removal rules and to choose
    * [[DefaultMaxShingleDocFreq]] with evidence. One hash shuffle with
    * map-side partial counts; the df ≥ minDf filter bounds the result to
    * the hot tail, so the output is small regardless of corpus size. */
  def boilerplateShingles(df: DataFrame, id: String, text: String, n: Int,
                          minDf: Long): DataFrame =
    shingles(df, id, text, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)

  /** Distinct shingles hashed to 60-bit longs: (id, h). All downstream
    * joins/groupBys key on the 8-byte long, not the shingle string — at
    * 100 TB that shrinks the candidate-join shuffle by the full shingle
    * width and makes key compares branchless. The default `hashFn` is the
    * md5-derived [[TextAnalysis.hash60]] both engines compute (so
    * hash-VALUE-pinned gates stay oracle-checkable); production pipelines
    * pass [[TextAnalysis.hash60xx]] — same [0, 2⁶⁰) contract, ~an order
    * of magnitude cheaper per shingle (the r14 hhprobe attribution). */
  def hashedShingles(df: DataFrame, id: String, text: String, n: Int,
                     hashFn: Column => Column = TextAnalysis.hash60): DataFrame =
    shingles(df, id, text, n).select(col(id), hashFn(col("shingle")).as("h"))

  /** N-gram Jaccard near-dup pairs: explode distinct shingles → equi-join on
    * the shingle hash → per-pair common count → |A∩B|/(|A|+|B|-|A∩B|) ≥
    * threshold. `maxShingleDocFreq` drops shingles shared by more than that
    * many docs before pairing — the skew valve for hot n-grams at scale.
    * A shingle present in d documents fans out to d·(d−1)/2 candidate rows
    * in the pair join, so an UNcapped run over a real corpus (boilerplate
    * shingles with d in the millions) is quadratic in the hottest key. The
    * cap is therefore ON by default ([[DefaultMaxShingleDocFreq]]); pass
    * `maxShingleDocFreq = None` to explicitly opt out for corpora known to
    * have no hot shingles. Both configurations are oracle-gated
    * (`dedup_ngram_jaccard` on the default, `dedup_ngram_capped` with a
    * tight cap).
    *
    * Choosing the cap: the per-shingle candidate fan-out is bounded by
    * cap², so the default 1024 bounds any one shingle to ≤ ~0.5 M pairs —
    * large enough that genuinely near-duplicate evidence (shared RARE
    * shingles) survives, small enough that no single key can dominate a
    * stage. Tighten toward ~100 for web-scale corpora with heavy
    * boilerplate; loosen only with evidence from a doc-frequency histogram.
    *
    * Denominator convention under the cap: |A|/|B| stay the UNfiltered
    * per-doc shingle counts while `common` counts only surviving shingles —
    * the cap removes *evidence of overlap* (pushing borderline pairs below
    * the threshold) but never shrinks a document. Since j = f(common) with
    * f increasing, the capped jaccard is a strict lower bound on the
    * uncapped one — capping only ever drops pairs, never invents them. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String, n: Int,
                        threshold: Double,
                        maxShingleDocFreq: Option[Int] = Dedup.DefaultMaxShingleDocFreq,
                        hashFn: Column => Column = TextAnalysis.hash60): DataFrame = {
    // no .cache(): a library function must not leak persisted blocks into
    // the caller's session. The explicit repartition on the join key
    // materializes the expensive scan→tokenize→shingle→md5 chain into ONE
    // shuffle write that ReuseExchange shares across both join sides and
    // the counts aggregate (which re-shuffles the 16-byte (id,h) rows by
    // id instead of re-scanning the documents).
    // `hashFn` is the production-hash seam: [[TextAnalysis.hash60xx]]
    // swaps the md5 digest for the codegen'd xxHash64 (the measured
    // dominant scan cost) — the VALUE contract (shingle-set jaccard) is
    // hash-regime-independent absent 60-bit collisions, which is what
    // lets `dedup_ngram_jaccard_xx` oracle-gate the xx path against a
    // raw-string DuckDB mirror.
    val sh = hashedShingles(df, id, text, n, hashFn).repartition(col("h"))
    val shFiltered = maxShingleDocFreq match {
      case Some(cap) =>
        // doc-frequency via a window over the EXISTING hash-partitioning on
        // h: one per-partition sort, no aggregate build, no anti-join (a
        // groupBy+left_anti formulation costs an extra SMJ sort pass per
        // join side; measured slower at sf0.1)
        val w = Window.partitionBy(col("h"))
        sh.withColumn("df", count(lit(1)).over(w))
          .filter(col("df") <= cap).select(col(id), col("h"))
      case None => sh
    }
    val counts = sh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val a = shFiltered.toDF("id1", "h")
    val b = shFiltered.toDF("id2", "h")
    val common = a.join(b, Seq("h"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(counts.toDF("id1", "n1"), "id1")
      .join(counts.toDF("id2", "n2"), "id2")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("common"), col("n1"), col("n2"), col("jaccard"))
  }

  /** N-gram CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|) ≥
    * `threshold` — the asymmetric complement of [[ngramJaccardPairs]]:
    * a short document embedded whole in a long one has containment ≈ 1
    * while its Jaccard is only ≈ |A|/|B| (arbitrarily small), so
    * quote-and-extend near-dups survive a Jaccard-only pass. Identical
    * pipeline and caps (one shingle shuffle shared across both join
    * sides, hot-shingle df cap on by default) — only the score formula
    * differs, and min(n1, n2) keeps it exact-rational so the IEEE
    * division is bit-identical to the oracle's. */
  def ngramContainmentPairs(df: DataFrame, id: String, text: String, n: Int,
                            threshold: Double,
                            maxShingleDocFreq: Option[Int] =
                              Dedup.DefaultMaxShingleDocFreq): DataFrame =
    ngramJaccardPairs(df, id, text, n, threshold = 0.0, maxShingleDocFreq)
      .withColumn("containment",
        col("common").cast("double") /
          least(col("n1"), col("n2")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("common"), col("n1"), col("n2"),
        col("containment"))

  /** Benchmark decontamination: flag training documents whose n-grams
    * overlap an evaluation set (the GPT-3 appendix-C / PaLM 13-gram pass,
    * over the same word shingles as [[ngramJaccardPairs]]). Returns one row
    * per TRAIN document THAT HAS AT LEAST ONE SHINGLE — a doc with fewer
    * than `n` tokens yields no shingles and is absent from the output
    * (trivially uncontaminated at this n). A decontamination filter must
    * therefore LEFT-join these flags (treating missing as clean), never
    * inner-join — an inner join would silently drop every short document.
    * Columns: (id, n_sh, n_contaminated, contaminated_frac,
    * is_contaminated) where n_contaminated counts the train doc's distinct
    * shingles that occur anywhere in the eval corpus.
    *
    * Shape at scale: the eval side collapses to its DISTINCT shingle-hash
    * set — for a benchmark suite that is a few million 8-byte longs even at
    * 100 TB of train data — and is broadcast, so the overlap probe is a
    * map-side left-semi join on the train shingle stream: ONE shuffle total
    * (the per-doc groupBy), zero shuffles of train data against eval data.
    * Pass `broadcastEval = false` if the eval corpus is itself huge (the
    * semi join then shuffles both sides on the hash). */
  def ngramContamination(train: DataFrame, eval: DataFrame, id: String,
                         text: String, n: Int,
                         broadcastEval: Boolean = true): DataFrame = {
    val trainSh = hashedShingles(train, id, text, n)
    val evalSh0 = hashedShingles(eval, id, text, n).select(col("h")).distinct()
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    // hashedShingles is distinct-per-doc, so the semi join keeps at most
    // one row per (id, shingle) and the count below is the overlap size
    val overlap = trainSh.join(evalSh, Seq("h"), "left_semi")
      .groupBy(col(id)).agg(count(lit(1)).as("n_contaminated"))
    contaminationFlags(trainSh, id, overlap)
  }

  /** Shared output shape of the contamination family: per-doc totals from
    * the UNFILTERED train shingles left-joined with the overlap counts, so
    * every variant reports identical (n_sh, n_contaminated, frac, flag)
    * rows whenever its overlap set is exact. */
  private def contaminationFlags(trainSh: DataFrame, id: String,
                                 overlap: DataFrame): DataFrame =
    trainSh.groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
      .join(overlap, Seq(id), "left")
      .select(col(id), col("n_sh"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_sh").cast("double")).as("contaminated_frac"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0L).cast("int")
          .as("is_contaminated"))

  /** [[ngramContamination]] with a Bloom PREFILTER on the train shingle
    * stream, for eval corpora too big to broadcast raw: the eval shingle
    * set is summarized as a [[Bloom]] bit array (~2 bytes/shingle instead
    * of 8+ for the exact hash set), the train side keeps only shingles the
    * filter might contain, and the surviving sliver is confirmed by the
    * exact SHUFFLED semi join — so Bloom false positives are eliminated
    * and the output is bit-identical to [[ngramContamination]] (gated on
    * the same oracle SQL).
    *
    * 100 TB shape: the only full-train-side work is the codegen'd probe in
    * the scan projection; the exact confirm join shuffles just the probe
    * survivors (≈ true overlap + 0.6% FPR of train shingles), where the
    * `broadcastEval = false` escape hatch of [[ngramContamination]] would
    * shuffle EVERY train shingle. The filter build costs one pass over the
    * (small-by-assumption-relative-to-train) eval side plus a collect
    * bounded by filter size, not eval size. */
  def ngramContaminationBloom(train: DataFrame, eval: DataFrame, id: String,
                              text: String, n: Int,
                              bitsPerElem: Int = 16, k: Int = 3): DataFrame = {
    val trainSh = hashedShingles(train, id, text, n)
    val evalSh = hashedShingles(eval, id, text, n).select(col("h")).distinct()
    val bitsLog2 = Bloom.bitsLog2For(evalSh.count(), bitsPerElem)
    val words = Bloom.build(evalSh, "h", bitsLog2, k)
    val candidates = trainSh.filter(Bloom.mightContain(col("h"), words, bitsLog2, k))
    val overlap = candidates.join(evalSh, Seq("h"), "left_semi")
      .groupBy(col(id)).agg(count(lit(1)).as("n_contaminated"))
    contaminationFlags(trainSh, id, overlap)
  }

  /** Per-EVAL-item contamination report — the opposite direction of
    * [[ngramContamination]]: that op flags TRAIN docs for removal; this
    * one reports, for each EVAL document, what fraction of its distinct
    * n-grams occur anywhere in the train corpus — the number a model
    * card actually publishes per benchmark (the GPT-3 appendix-C
    * convention: an eval item is "dirty" past an overlap threshold).
    * Columns: (id, n_sh, n_hit, hit_frac, is_contaminated) with
    * is_contaminated = hit_frac ≥ `threshold`.
    *
    * Shape at scale — the train side is never shuffled: the eval
    * shingle set (small: a benchmark suite) broadcasts, the train
    * shingle stream is probed map-side and only the SURVIVORS (≤ eval
    * set size, regardless of train size) pass through a distinct; that
    * hit set broadcasts back onto the per-eval-doc shingles. Total
    * shuffle traffic = two eval-sized exchanges; the 100 TB train
    * corpus contributes one scan. */
  def evalContaminationReport(train: DataFrame, eval: DataFrame,
                              id: String, text: String, n: Int,
                              threshold: Double = 0.5): DataFrame = {
    val evalSh = hashedShingles(eval, id, text, n)
    val evalSet = evalSh.select(col("h")).distinct()
    val hits = hashedShingles(train, id, text, n).select(col("h"))
      .join(broadcast(evalSet), Seq("h"), "left_semi").distinct()
    val perDoc = evalSh
      .join(broadcast(hits.withColumn("__hit", lit(1))), Seq("h"), "left")
      .groupBy(col(id)).agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
    perDoc.select(col(id), col("n_sh"), col("n_hit"),
      (col("n_hit").cast("double") / col("n_sh").cast("double"))
        .as("hit_frac"),
      (col("n_hit").cast("double") / col("n_sh").cast("double") >=
        lit(threshold)).cast("int").as("is_contaminated"))
  }

  /** FUZZY eval-set decontamination — MinHash near-duplicate matching of
    * TRAIN documents against the eval suite, the pass frontier pipelines
    * run alongside exact n-gram decontamination ([[ngramContamination]]):
    * a benchmark item lightly paraphrased into a train document shares
    * few exact 13-gram-style shingles but still minhashes into the same
    * LSH band buckets, and the exact-Jaccard confirm then scores the true
    * overlap. Same (n, k, bands, threshold) machinery as
    * [[minhashLshPairs]] — a train doc is flagged iff it verifies at
    * `jaccard >= threshold` against at least one eval doc.
    *
    * Output one row per train doc (that has >= 1 shingle, the
    * contamination-family convention): (id, n_sh, n_matches, max_jaccard,
    * is_contaminated) where n_matches counts matched EVAL docs.
    *
    * Shape at scale — the train side is NEVER shuffled for candidate
    * generation: eval band buckets (a benchmark suite — bands x |eval|
    * rows) are capped and BROADCAST, train band keys are probed map-side
    * in the scan projection, and only the candidate sliver (bounded by
    * |eval| x cap, independent of train size) flows into the confirm
    * join. The one train-sized exchange is [[minhashPerDocSlim]]'s
    * signature groupBy (k map-side-combined mins per doc, no hs
    * payload — both verify sides re-derive candidate-only hash sets
    * through [[hashSetsFor]]). The eval-side
    * bucket cap guards against a degenerate eval item (an all-boilerplate
    * prompt) bucketing with half the corpus. */
  def fuzzyContamination(train: DataFrame, eval: DataFrame, id: String,
                         text: String, n: Int = 3, k: Int = 8,
                         bands: Int = 4, threshold: Double = 0.5,
                         maxEvalBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    // both sides are SLIM (signatures only, map-side-combined shuffle);
    // hs payloads are re-derived below for candidate docs alone
    val pt = minhashPerDocSlim(train, id, text, n, k)
    val pe = minhashPerDocSlim(eval, id, text, n, k)
    val cand = bandKeyRows(pt, id, k, bands).toDF("id1", "band", "key")
      .join(broadcast(bandBuckets(pe, id, k, bands, maxEvalBucketSize)
        .toDF("id2", "band", "key")), Seq("band", "key"))
      .select("id1", "id2").distinct()
    // BOTH intersection sides re-derive through hashSetsFor so they share
    // the xx hash regime (intersecting xx train hashes against pe's md5
    // hashes would be an empty join — the one way the seam can be misused)
    val hsTrain = hashSetsFor(train, id, text, n,
      cand.select(col("id1").as(id)).distinct())
    val hsEval = hashSetsFor(eval, id, text, n,
      cand.select(col("id2").as(id)).distinct())
    val per = verifyJaccard(cand, hsTrain, id, threshold,
      rightPerDoc = Some(hsEval))
      .groupBy(col("id1")).agg(count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("max_jaccard"))
    pt.select(col(id), col("n_sh"))
      .join(per.withColumnRenamed("id1", id), Seq(id), "left")
      .select(col(id), col("n_sh"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) > 0L).cast("int")
          .as("is_contaminated"))
  }

  /** Paragraph-level exact dedup with in-place cleaning (the C4/Dolma
    * pattern): split each document into sentence-ish units, keep only the
    * globally-FIRST occurrence of each unit (ordered by doc id, then
    * position), and reconstruct the cleaned text in original order.
    * One shuffle on the unit fingerprint for the first-occurrence window,
    * one on the doc id for reassembly — no pairwise comparisons at all,
    * which is why corpus pipelines run this pass before any near-dup. */
  def paragraphDedup(df: DataFrame, id: String, text: String): DataFrame = {
    val units = graft.operators.Scale.balanceToCores(df)
      .select(col(id), posexplode(split(col(text), "\\.\\s+")).as(Seq("pos", "para")))
      .filter(length(trim(col("para"))) > 0)
    val w = Window.partitionBy(col("fp")).orderBy(col(id), col("pos"))
    val flagged = units
      .withColumn("fp", md5(col("para")))
      .withColumn("is_first", (row_number().over(w) === 1).cast("int"))
    flagged.groupBy(col(id))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("is_first")).as("n_kept"),
        array_join(
          transform(
            sort_array(collect_list(when(col("is_first") === 1,
              struct(col("pos"), col("para"))))),
            s => s.getField("para")),
          ". ").as("clean_text"))
      .select(col(id), col("n_paras"), col("n_kept"),
        length(col("clean_text")).cast("long").as("clean_len"), col("clean_text"))
  }

  /** WITHIN-document paragraph dedup (repetition removal): drop repeated
    * paragraphs inside each doc, keep first-occurrence order, reconstruct
    * the text. The in-doc complement of [[paragraphDedup]] (which dedups
    * across the corpus): boilerplate pages repeat their own navigation/
    * footer blocks, and this pass removes those without any cross-doc
    * state — pure scan-side column algebra, ZERO shuffles, so at 100 TB it
    * costs one projection. The kept set is `array_distinct`, which in
    * Spark preserves FIRST-occurrence order and runs on a hash set —
    * O(paras) per doc (VERDICT r9 item 4: the first formulation's
    * `array_position(ps, p) = i+1` first-occurrence test was O(paras²),
    * 10¹⁰ in-row ops for a book-length document; OpsSpec pins the two
    * formulations identical). Paragraphs are trim-normalized before
    * comparison. */
  def paragraphDedupInDoc(df: DataFrame, id: String, text: String): DataFrame = {
    // materialize the array once — inlining the split into the lambdas
    // would re-evaluate it per element (measured 3-4x loss elsewhere)
    val withParas = df.withColumn("ps",
      filter(transform(split(col(text), "\\.\\s+"), p => trim(p)), p => length(p) > 0))
    val kept = array_distinct(col("ps"))
    withParas.select(col(id),
      size(col("ps")).cast("long").as("n_paras"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, ". ").as("clean_text"))
  }

  /** Exact substring-span dedup signals (the Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 pass, re-expressed
    * over token windows): every length-`w` rolling token window is hashed,
    * a window content is *duplicated* if it occurs in ≥ 2 distinct
    * documents, and each document reports how much of it is covered by
    * duplicated spans. Returns one row per input document:
    * (id, n_tokens, n_windows, n_dup_windows, dup_tokens, dup_token_frac)
    * where dup_tokens is the size of the UNION of the duplicated windows'
    * [pos, pos+w-1] intervals (overlaps not double-counted; interval union
    * via the running-max sweep, same trick as the R19 sweep-line).
    *
    * Shape at scale: windows keep their position, so there is no
    * distinct-per-doc reduction, but every step is linear and the window
    * pipeline (tokenize → explode → md5) runs ONCE — exactly two full-data
    * shuffles. The duplicate flag is two window aggregates over the
    * existing hash partitioning (Window.partitionBy over repartition'd
    * data adds no exchange, only a per-partition sort — the same trick as
    * the ngram doc-frequency cap; an agg + join-back formulation plans the
    * small side as a broadcast whose subtree RE-RUNS the whole window
    * pipeline, and column pruning gives each consumer branch a different
    * projection so ReuseExchange never fires — measured: 5 scans instead
    * of 2). Counts and interval-union coverage then fold into ONE per-doc
    * pass: the running-max window and the final aggregate share the doc-id
    * exchange. Nothing pairwise: unlike [[ngramJaccardPairs]] this never
    * materializes document PAIRS, which is why corpus pipelines run
    * span-level dedup at full scale and reserve pair generation for
    * candidate subsets. */
  def substringSpans(df: DataFrame, id: String, text: String, w: Int): DataFrame = {
    require(w >= 1, "window length must be >= 1")
    val t = col("__tokens")
    val winArr = when(size(t) >= w,
      transform(sequence(lit(1), size(t) - (w - 1)), i =>
        concat_ws(" ", (0 until w).map(k => element_at(t, i + k)): _*)))
      .otherwise(array())
    val wins = graft.operators.Scale.balanceToCores(df)
      .select(col(id), tokens(col(text)).as("__tokens"))
      .select(col(id), posexplode(winArr).as(Seq("pos", "win")))
      .select(col(id), col("pos"), hash60(col("win")).as("h"))
      .repartition(col("h"))
    val wh = Window.partitionBy(col("h"))
    val flagged = wins.withColumn("is_dup",
      min(col(id)).over(wh) =!= max(col(id)).over(wh))
    // interval union over duplicated spans: ordered by pos, a dup span's
    // new coverage is its end minus max(own start - 1, furthest dup end so
    // far). The running max skips non-dup rows via when(), so one window
    // over ALL rows serves both the dup coverage and (with the aggregate
    // below) the plain counts.
    val prevEnd = max(when(col("is_dup"), col("pos") + lit(w - 1))).over(
      Window.partitionBy(col(id)).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val perDoc = flagged
      .withColumn("new_cov",
        when(col("is_dup"),
          (col("pos") + lit(w - 1)) - greatest(col("pos") - 1, coalesce(prevEnd, lit(-1))))
          .otherwise(lit(0)))
      .groupBy(col(id)).agg(
        count(lit(1)).as("n_windows"),
        sum(col("is_dup").cast("long")).as("n_dup_windows"),
        sum(col("new_cov")).cast("long").as("dup_tokens"))
    df.select(col(id), tokenCount(col(text)).cast("long").as("n_tokens"))
      .join(perDoc, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("dup_token_frac"))
  }

  /** The REMOVAL face of [[substringSpans]] — the transform Lee et al.
    * ACL'22 actually train on (delete all but ONE occurrence of each
    * duplicated substring, then retrain): rebuild each document's text
    * with its removable duplicated spans cut out. A length-`w` window is
    * duplicated when its content occurs in ≥ 2 distinct documents
    * ([[substringSpans]]'s rule); the KEEPER of a window content — the
    * smallest doc_id containing it, a deterministic engine-portable
    * stand-in for "first occurrence in corpus order" — keeps every
    * occurrence, every other document removes the tokens its occurrences
    * cover (union over removable windows; overlapping spans removed
    * once). A non-keeper occurrence implies ≥ 2 distinct docs by itself,
    * so no separate dup flag is needed. Output text is the space-join of
    * the SURVIVING tokens — a token-level transform, whitespace
    * normalized exactly as every tokenizing consumer (chunking, BPE, the
    * dedup family itself) already sees it.
    *
    * Shape at scale: the window pipeline runs ONCE (same two full-data
    * shuffles as [[substringSpans]]); removable occurrences explode to w
    * position rows each (w a small constant) and reduce by (id, pos);
    * the rebuild is one anti join + one per-doc sort-aggregate over
    * surviving positions. Never pairwise — this is why span-level
    * rewrite runs at full corpus scale while pair generation stays
    * reserved for candidate subsets.
    * Returns (id, n_tokens, kept_tokens, removed_tokens, text_clean). */
  def substringRemove(df: DataFrame, id: String, text: String, w: Int): DataFrame = {
    require(w >= 1, "window length must be >= 1")
    val t = col("__tokens")
    val winArr = when(size(t) >= w,
      transform(sequence(lit(1), size(t) - (w - 1)), i =>
        concat_ws(" ", (0 until w).map(k => element_at(t, i + k)): _*)))
      .otherwise(array())
    val toks = graft.operators.Scale.balanceToCores(df)
      .select(col(id), tokens(col(text)).as("__tokens"))
    val wins = toks
      .select(col(id), posexplode(winArr).as(Seq("pos", "win")))
      .select(col(id), col("pos"), hash60(col("win")).as("h"))
      .repartition(col("h"))
    val wh = Window.partitionBy(col("h"))
    val removable = wins
      .withColumn("__keeper", min(col(id)).over(wh))
      .filter(col(id) =!= col("__keeper"))
    val removedPos = removable
      .select(col(id), explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("__p"))
      .distinct()
    val positions = toks
      .select(col(id), posexplode(col("__tokens")).as(Seq("__p", "__tok")))
    val kept = positions.join(removedPos, Seq(id, "__p"), "left_anti")
      .groupBy(col(id)).agg(
        count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__tok")))),
          s => s.getField("__tok")), " ").as("text_clean"))
    df.select(col(id), tokenCount(col(text)).cast("long").as("n_tokens"))
      .join(kept, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** MinHash parameters: k universal-hash permutations
    * h_i(x) = (a_i * (hash60(x) mod P) + b_i) mod P over the prime P. */
  val MinhashP = 1000000007L
  def minhashA(i: Int): Long = Seq(131L, 1031L, 10007L, 100003L, 1000033L, 999983L, 31L, 271L)(i)
  def minhashB(i: Int): Long = Seq(7L, 17L, 29L, 47L, 89L, 151L, 223L, 379L)(i)

  /** Per-doc MinHash signature columns m0..m{k-1}. */
  def minhashSignature(df: DataFrame, id: String, text: String, n: Int, k: Int): DataFrame = {
    val sh = shingles(df, id, text, n)
      .withColumn("h", hash60(col("shingle")) % MinhashP)
    val aggs = (0 until k).map(i =>
      min((col("h") * minhashA(i) + minhashB(i)) % MinhashP).as(s"m$i"))
    sh.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding: signatures → band keys (rows-per-band
    * consecutive minhashes concatenated) → candidates = pairs sharing any
    * band bucket → exact Jaccard verification on candidates only.
    *
    * At scale: candidates come from a groupable equi-join on (band_idx,
    * band_key) — no O(N²); verification re-derives shingle-hash sets for
    * CANDIDATE documents only (see [[candidateHashSets]] — the corpus's
    * shingle sets never ship through a shuffle). `maxBandBucketSize` (ON
    * by default, [[DefaultMaxBandBucketSize]]) drops over-full band
    * buckets before pairing — the hot-bucket valve for mass-duplicated
    * content; capped output is a subset of uncapped (see the constant's
    * scaladoc). Both configurations are oracle-gated: `dedup_minhash_lsh`
    * proves the default (capped) plan produces uncapped answers on
    * cap-free data, `dedup_minhash_capped` proves the cap filter itself.
    */
  def minhashLshPairs(df: DataFrame, id: String, text: String,
                      n: Int = 3, k: Int = 8, bands: Int = 4,
                      threshold: Double = 0.5,
                      maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val perDoc = minhashPerDocSlim(df, id, text, n, k)
    val cand = lshCandidates(perDoc, id, k, bands, maxBandBucketSize)
    verifyJaccard(cand, candidateHashSets(df, id, text, n, cand), id, threshold)
  }

  /** LSH candidate pairs (id1 < id2, distinct) from a per-doc signature
    * frame — the ONE candidate generator every LSH family member uses
    * (VERDICT r14 item 2: `minhashLshPairs` and `editVerifiedPairs` had
    * forked shapes, one optimized; any lever applied to one silently
    * missed the other).
    *
    * Capped path (VERDICT r13 item 5, hardened per ADVICE r14): ONE
    * groupBy(band, key) aggregates each bucket's member list with
    * [[graft.functions.CollectCapped]] — storage stops AT the cap, so the
    * mega-buckets the cap exists for (band keys are minima and concentrate
    * as the corpus grows) never materialize their member lists at all; an
    * over-cap bucket evaluates to NULL and one `isNotNull` filter drops
    * it. Pairs expand IN-ROW (bounded by the cap): no per-partition sort,
    * no join — a single wide shuffle of the band rows. Candidate SET is
    * identical to the old count-filtered collect_list shape by
    * construction (same buckets, same ≥2/≤cap predicate, same id1 < id2
    * expansion, same distinct). The capless path keeps the join shape: an
    * unbounded bucket must stream through a join, not materialize as one
    * array row.
    */
  private[graft] def lshCandidates(perDoc: DataFrame, id: String, k: Int, bands: Int,
                            maxBandBucketSize: Option[Int]): DataFrame =
    maxBandBucketSize match {
      case Some(cap) =>
        bandKeyRows(perDoc, id, k, bands)
          .groupBy(col("band"), col("key"))
          .agg(graft.functions.CollectCapped.collect_capped(col(id), cap).as("__ids"))
          .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
          .select(explode(col("__ids")).as("id1"), col("__ids"))
          .select(col("id1"),
            explode(filter(col("__ids"), x => x > col("id1"))).as("id2"))
          .select("id1", "id2").distinct()
      case None =>
        val buckets = bandBuckets(perDoc, id, k, bands, None)
        buckets.toDF("id1", "band", "key")
          .join(buckets.toDF("id2", "band", "key"), Seq("band", "key"))
          .filter(col("id1") < col("id2"))
          .select("id1", "id2").distinct()
    }

  /** Shingle-hash sets (id, n_sh, hs) re-derived for the documents that
    * appear in a candidate pair set — the verify-payload shrink (VERDICT
    * r14 item 1, the suite's one `weak` row). The old shape carried every
    * document's full hash set through the signature groupBy
    * (collect_list defeats map-side combine — ALL shingle hashes shuffled)
    * and then again through the verify join: GB-scale at 5M docs, the
    * measured sf100 residual. This shape scans the text a second time but
    * only for candidate documents (a semi-join sliver, linear in the
    * candidate count — measured exactly linear in corpus size by
    * `Probe bandhist`), so the signature shuffle collapses to k map-side-
    * combined mins per doc and the hash sets that DO ship are exactly the
    * ones verification reads. Exact by construction: same shingles, same
    * hashes, just derived for fewer documents. */
  private def candidateHashSets(df: DataFrame, id: String, text: String,
                                n: Int, cand: DataFrame): DataFrame =
    hashSetsFor(df, id, text, n,
      cand.select(col("id1").as(id)).union(cand.select(col("id2").as(id))).distinct())

  /** Shingle-hash sets (id, n_sh, hs) for exactly the documents in `ids`
    * (a semi-join sliver — AQE sees the ids side's runtime size from its
    * distinct's exchange and broadcasts it when small).
    *
    * Hashes with [[TextAnalysis.hash60xx]], NOT the md5 hash60: these
    * sets exist only to be INTERSECTED against each other inside one
    * verify pass, and pairwise jaccard is hash-regime-independent absent
    * 60-bit collisions (the `dedup_ngram_jaccard_xx` gate's argument), so
    * the re-derive scan skips the md5 digest — the r15 hhprobe leg
    * measured xx at 2.29 s vs 2.99 s for the identical sf10 shingle
    * stream. Signatures stay md5 (the oracle mirrors BANDING with md5
    * minhashes, so the candidate set must be md5-derived); every hs
    * consumer of this helper must take BOTH intersection sides from the
    * same hash regime. */
  private def hashSetsFor(df: DataFrame, id: String, text: String,
                          n: Int, ids: DataFrame): DataFrame =
    hashedShingles(df.join(ids, Seq(id), "left_semi"), id, text, n,
      TextAnalysis.hash60xx)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_sh"), collect_list(col("h")).as("hs"))

  /** ONE aggregation pass builds everything per doc: the k minhashes (over
    * h mod P), the shingle count, and the 60-bit shingle-hash set for
    * exact verification. The scan+shingle+md5 work happens once; the
    * single groupBy(id) shuffle is shared by every consumer
    * (ReuseExchange), vs. 3-4 re-scans in the naive shape.
    * NEGATIVE RESULT (measured, do not retry): computing the k minhashes
    * scan-side as array algebra over the per-doc shingle array —
    * array_min(transform(hs, h => (h*a+b) % P)) × k, then repartition(id)
    * instead of explode+groupBy — is ~6× SLOWER at sf0.1 (12.9 s vs
    * 2.05 s). Higher-order functions are interpreted (no codegen) and each
    * of the k transforms allocates an intermediate array per row, while
    * the exploded shape keeps the k min() aggregates inside whole-stage
    * codegen with map-side partial aggregation absorbing the per-shingle
    * rows before the shuffle. Output: (id, m0..m{k-1}, n_sh, hs). */
  private def minhashPerDoc(df: DataFrame, id: String, text: String,
                            n: Int, k: Int): DataFrame = {
    val hh = hashedShingles(df, id, text, n)
      .withColumn("hp", col("h") % MinhashP)
    val sigAggs = (0 until k).map(i =>
      min((col("hp") * minhashA(i) + minhashB(i)) % MinhashP).as(s"m$i"))
    hh.groupBy(col(id)).agg(sigAggs.head,
      (sigAggs.tail :+ count(lit(1)).as("n_sh") :+ collect_list(col("h")).as("hs")): _*)
  }

  /** [[minhashPerDoc]] WITHOUT the hs verification payload: (id,
    * m0..m{k-1}, n_sh) only. Every aggregate here (k mins + a count) is
    * algebraic, so map-side partial aggregation collapses each partition's
    * shingle rows to ONE k-long row per doc before the shuffle — the
    * signature exchange ships k×8 bytes per (doc, partition) instead of
    * the document's entire hash set (collect_list has no partial
    * reduction; carrying hs made this the corpus-sized shuffle the sf100
    * LSH decade was measured against). Consumers that verify join back to
    * [[candidateHashSets]]' candidate-only sets instead. */
  private[graft] def minhashPerDocSlim(df: DataFrame, id: String, text: String,
                                n: Int, k: Int): DataFrame = {
    val hh = hashedShingles(df, id, text, n)
      .withColumn("hp", col("h") % MinhashP)
    val sigAggs = (0 until k).map(i =>
      min((col("hp") * minhashA(i) + minhashB(i)) % MinhashP).as(s"m$i"))
    hh.groupBy(col(id)).agg(sigAggs.head,
      (sigAggs.tail :+ count(lit(1)).as("n_sh")): _*)
  }

  /** Band-key rows (id, band, key) from a [[minhashPerDoc]] frame.
    * Repartitioned on the join key: both sides of a bucket join over the
    * SAME input become one shuffle subplan, so ReuseExchange materializes
    * the signature pipeline once instead of running it per side (a
    * broadcast right side would recompute it end-to-end). The bucket-size
    * cap is a window over the EXISTING (band, key) partitioning — no extra
    * exchange, same trick as the ngram doc-frequency cap. */
  private def bandBuckets(perDoc: DataFrame, id: String, k: Int, bands: Int,
                          maxBandBucketSize: Option[Int]): DataFrame = {
    val buckets0 = bandKeyRows(perDoc, id, k, bands)
      .repartition(col("band"), col("key"))
    maxBandBucketSize match {
      case Some(cap) =>
        val w = Window.partitionBy(col("band"), col("key"))
        buckets0.withColumn("__bs", count(lit(1)).over(w))
          .filter(col("__bs") <= cap).select(col(id), col("band"), col("key"))
      case None => buckets0
    }
  }

  /** Band-bucket sizes (band, key, bs) — the concentration diagnostic
    * behind the bucket cap: minhash values are MINIMA, so band keys
    * crowd toward small values as the corpus grows and bucket sizes
    * (hence the candidate join's Σ bs² fanout) grow faster than the
    * corpus. Grouped by log2(bs) with Σ bs·(bs−1)/2 per size class
    * (COVERAGE.md, round 14), it is the measurement to take before
    * retuning [[DefaultMaxBandBucketSize]]. */
  def bandBucketSizes(df: DataFrame, id: String, text: String,
                      n: Int, k: Int, bands: Int): DataFrame =
    bandKeyRows(minhashPerDocSlim(df, id, text, n, k), id, k, bands)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bs"))

  /** Raw (id, band, key) band rows from a [[minhashPerDoc]] frame — no
    * repartition, no cap: the scan-side half of a band probe whose OTHER
    * side is broadcast (see [[fuzzyContamination]]), where the
    * [[bandBuckets]] repartition would be a pure-overhead shuffle of the
    * big side. */
  private def bandKeyRows(perDoc: DataFrame, id: String, k: Int,
                          bands: Int): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { bIdx =>
      val key = concat_ws("_",
        (0 until rows).map(r => col(s"m${bIdx * rows + r}")): _*)
      struct(lit(bIdx).as("band"), key.as("key"))
    }
    perDoc.select(col(id), explode(array(bandCols: _*)).as("b"))
      .select(col(id), col("b.band").as("band"), col("b.key").as("key"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every positional k-gram, then
    * keep the MINIMUM hash of each w-window of consecutive gram hashes.
    * The guarantee the sketch is used for: any shared run of at least
    * w + k − 1 tokens between two documents contributes at least one
    * IDENTICAL selected fingerprint to both — so local plagiarism/quote
    * overlap is caught by an equi-join on prints, with sketch size ~2/(w+1)
    * of the gram count instead of every gram. (The paper's rightmost-
    * position tie rule is moot here: ties between 60-bit hashes are
    * ~2⁻⁶⁰; value-min alone keeps both engines identical.)
    *
    * Output: (id, print) — distinct selected fingerprints per document.
    * In-row cost is O(grams · w) from the sliding `array_min(slice(...))`
    * (w is a small constant; the windows could share a deque-min but the
    * constant-factor slice keeps the whole pass one codegen'd projection). */
  def winnowPrints(df: DataFrame, id: String, text: String,
                   k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1: $k, $w")
    val base = graft.operators.Scale.balanceToCores(df)
      .select(col(id), TextAnalysis.tokens(col(text)).as("__t"))
      .withColumn("__g",
        when(size(col("__t")) >= k,
          transform(sequence(lit(1), size(col("__t")) - (k - 1)), i =>
            TextAnalysis.hash60(concat_ws(" ",
              (0 until k).map(o => element_at(col("__t"), i + o)): _*))))
          .otherwise(array().cast("array<bigint>")))
      .withColumn("__mins",
        when(size(col("__g")) >= w,
          transform(sequence(lit(1), size(col("__g")) - (w - 1)), j =>
            array_min(slice(col("__g"), j, lit(w)))))
          // shorter than one window: the whole doc is one window —
          // otherwise a doc of w+k-2 tokens would have NO sketch at all
          .when(size(col("__g")) >= 1, array(array_min(col("__g"))))
          .otherwise(array().cast("array<bigint>")))
    base.select(col(id), explode(array_distinct(col("__mins"))).as("print"))
  }

  /** Pair detection over [[winnowPrints]]: documents sharing any selected
    * fingerprint, with the shared-print count as match strength. Same
    * scale shape as the LSH band join — one equi-join on the print, a
    * hot-print cap (mass-duplicated boilerplate fills a print's bucket
    * exactly like an LSH band bucket), partial-aggregated pair rollup.
    *
    * The whole pipeline is SORT-FREE by design (r13, from the r12 sf100
    * probe): the hot-print cap is a hash-aggregated per-print count
    * joined back on the print partitioning the frame already has —
    * never a `Window.partitionBy(print)`, whose WindowExec must SORT
    * the entire corpus-sized print table per partition (an O(n log n)
    * external sort at sf100 was the measured superlinear term; the
    * (doc, print) rows are already doc-distinct scan-side via
    * [[winnowPrints]]' array_distinct, so row REDUCTION before the
    * shuffle was already maximal — the sort was the remaining
    * super-linear stage). Every join is SHUFFLE_HASH-pinned to that one
    * partitioning: a sort-merge join would re-introduce the sort, a
    * broadcast would materialize (and recompute) the sketch pipeline
    * per executor. One exchange in, one partial-aggregated pair rollup
    * out. */
  def winnowPairs(df: DataFrame, id: String, text: String,
                  k: Int = 4, w: Int = 4,
                  maxPrintDocs: Option[Int] = Some(1024)): DataFrame = {
    // The explicit not-null filter and the count over the ID column (not
    // count(1)) keep ALL consumers of this frame — the cap count and both
    // self-join sides — byte-identical below their exchange: otherwise
    // column pruning drops the id from the count branch and the join
    // sides gain an IsNotNull pushdown the count branch lacks, the
    // subplans stop canonicalizing equal, AQE stage reuse cannot collapse
    // them, and the tokenize+hash sketch pipeline runs 2–4× (measured on
    // the r13 reshape; the spec locks the canonical equality). At runtime
    // ONE shuffle materializes; the other consumers re-read its output.
    val prints0 = winnowPrints(df, id, text, k, w)
      .filter(col(id).isNotNull && col("print").isNotNull)
      .repartition(col("print"))
    val prints = maxPrintDocs match {
      case Some(cap) =>
        // per-print doc count rides the existing print partitioning
        // (HashAggregate, no new exchange, no sort); the survivors-only
        // print list hash-joins back on the same partitioning
        val ok = prints0.groupBy(col("print"))
          .agg(count(col(id)).as("__pc"))
          .filter(col("__pc") <= cap).select(col("print"))
        prints0.join(ok.hint("SHUFFLE_HASH"), Seq("print"))
          .select(col(id), col("print"))
      case None => prints0
    }
    // SHUFFLE_HASH pins the self-join to the print partitioning both
    // sides already have, so ReuseExchange materializes the sketch
    // pipeline ONCE — the planner's size estimate would otherwise
    // broadcast one side and recompute it end-to-end (and the prints
    // table is corpus-sized, so a broadcast is wrong at any real SF)
    prints.toDF("id1", "print").hint("SHUFFLE_HASH")
      .join(prints.toDF("id2", "print"), Seq("print"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared_prints"))
  }

  /** LSH candidates verified by EDIT DISTANCE instead of Jaccard — the
    * precision pass for near-identical variants (typo farms, template
    * fills, OCR noise) where shingle Jaccard under-discriminates:
    * candidates come from the same banded-minhash equi-join as
    * [[minhashLshPairs]] (capped buckets, never all-pairs), then each
    * candidate pair joins back to its two texts and survives iff
    * `levenshtein(t1, t2) <= maxDist`.
    *
    * Cost model at scale: the distance runs BANDED — Spark's
    * three-argument `levenshtein(t1, t2, threshold)` explores only the
    * 2·maxDist+1 diagonal band and answers -1 as soon as the distance
    * provably exceeds the threshold, so each candidate costs
    * O(maxDist·|t|) instead of O(|t1|·|t2|) — at a typical 3 KB
    * document and maxDist 8 that is ~200× less work per pair, and for
    * pairs whose LENGTHS already differ by more than maxDist it is
    * O(1). Values are unchanged where it matters: the banded form
    * returns the EXACT distance whenever it is ≤ threshold, which is
    * precisely the survivor set (a -1 row is a dropped row either
    * way). Still never run it all-pairs — the LSH stage bounds the
    * candidate count.
    *
    * The distance runs ONCE PER DISTINCT TEXT PAIR, not once per
    * candidate pair (r15; guide §1.2 "don't compute things you throw
    * away"): the regime where LSH candidate counts blow up at all is
    * mass-duplicated content — template fills, boilerplate mirrors,
    * re-crawls — where thousands of docs share a handful of distinct
    * texts, so every bucket's candidate pairs re-derive the SAME
    * distance (the sf0.1 gate measures 96,886 candidate pairs over ~260
    * distinct text pairs; the per-pair distance was 5.2 s of the op's
    * 6.6 s). Deduping on (t1, t2) collapses that to one call per
    * distinct pair, joined back to the candidate rows (exact: the
    * distance is a pure function of the two texts, and the join keys
    * are the texts themselves, not hashes). Cost when texts are
    * near-unique: one extra exchange of the candidate text-pair rows
    * (the distinct) — bounded by the bytes the verify join already
    * ships — while the win in the duplicated regime is
    * |candidates| / |distinct text pairs|, exactly the factor bucket
    * blow-up creates. Equal texts short-circuit to 0 scan-side, so the
    * dominant same-text mass never reaches the DP at all.
    *
    * Engine-portability caveat: Spark computes
    * codepoint-level distance while some reference engines (DuckDB)
    * count bytes, so distances over non-ASCII text differ — thresholds
    * near the boundary should be validated on the target engine (the
    * gate plants ASCII). */
  def editVerifiedPairs(df: DataFrame, id: String, text: String,
                        n: Int = 3, k: Int = 8, bands: Int = 4,
                        maxDist: Long = 8L,
                        maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // shares [[lshCandidates]] with minhashLshPairs (VERDICT r14 item 2 —
    // this op previously ran the old bandBuckets + self-join fork), and
    // needs no hs payload at all: verification joins back to the TEXTS
    val perDoc = minhashPerDocSlim(df, id, text, n, k)
    val cand = lshCandidates(perDoc, id, k, bands, maxBandBucketSize)
    val texts = df.select(col(id), col(text))
    // both consumers (the per-distinct-pair distance and the join back)
    // ride ONE explicit (t1, t2) exchange, so ReuseExchange materializes
    // the candidate pipeline once — the winnowPairs trick, including its
    // caveat: the aggregate must reference id1 AND id2 so column pruning
    // cannot make the two subplans canonically unequal (a pruned branch
    // would recompute the whole sketch pipeline end-to-end), and the
    // not-null filter must be explicit BEFORE the shared exchange (the
    // join back infers IsNotNull on its keys; without the shared filter
    // that pushdown lands in the join branch only and the two subplans
    // stop canonicalizing equal — a no-op semantically: candidate ids
    // come from perDoc, whose docs tokenized non-null text)
    val candTexts = cand
      .join(texts.toDF("id1", "__t1"), "id1")
      .join(texts.toDF("id2", "__t2"), "id2")
      .filter(col("__t1").isNotNull && col("__t2").isNotNull)
      .repartition(col("__t1"), col("__t2"))
    // one distance per DISTINCT text pair, riding the existing (t1, t2)
    // partitioning (HashAggregate, no new exchange). Equal texts are
    // distance 0 without running the DP.
    val distinctDists = candTexts
      .groupBy(col("__t1"), col("__t2"))
      // min, not count: count(id) over the non-null ids constant-folds to
      // count(1), which prunes id1/id2 from this branch's projection and
      // breaks the canonical equality the shared exchange needs (measured:
      // the two pipeline subtrees materialized separately — a full second
      // corpus pass)
      .agg(min(col("id1")).as("__c1"), min(col("id2")).as("__c2"))
      // banded: -1 marks distance > maxDist, and -1 <= maxDist would be
      // TRUE, so the filter must require dist >= 0 as well
      .withColumn("dist",
        when(col("__t1") === col("__t2"), 0L)
          .otherwise(levenshtein(col("__t1"), col("__t2"), maxDist.toInt).cast("long")))
      // the predicate references the aggregate output __c1 (never null:
      // every group has >= 1 row and ids are non-null, so semantics are
      // unchanged) because a filter on grouping keys alone is pushed
      // BELOW the aggregate by PushDownPredicates — measured: the pushed
      // levenshtein landed in the candidate join's condition and ran once
      // per CANDIDATE row (96,886×) instead of once per distinct pair
      // (~260×), and the branch-local pushdown also broke the canonical
      // equality the shared exchange needs for reuse
      .filter(when(col("__c1").isNotNull, col("dist")).otherwise(lit(-1L))
        .between(0L, maxDist))
      .select(col("__t1"), col("__t2"), col("dist"))
    // SHUFFLE_HASH keeps the join on the shared (t1, t2) partitioning —
    // a broadcast would recompute the candidate pipeline for this branch
    candTexts
      .join(distinctDists.hint("SHUFFLE_HASH"), Seq("__t1", "__t2"))
      .select(col("id1"), col("id2"), col("dist"))
  }

  /** Exact Jaccard verification of candidate pairs against the per-doc
    * hash sets (distinct per doc): set intersection is O(|A|+|B|) per
    * pair — no re-explode, no second shuffle of the full shingle table.
    * `perDoc` supplies the (n_sh, hs) payload for id1; `rightPerDoc` the
    * one for id2 (defaults to `perDoc` for self-join pair sets). */
  private def verifyJaccard(cand: DataFrame, perDoc: DataFrame, id: String,
                            threshold: Double,
                            rightPerDoc: Option[DataFrame] = None): DataFrame = {
    val docSets = perDoc.select(col(id), col("n_sh"), col("hs"))
    val rightSets = rightPerDoc.getOrElse(perDoc)
      .select(col(id), col("n_sh"), col("hs"))
    cand
      .join(docSets.toDF("id1", "n1", "hs1"), "id1")
      .join(rightSets.toDF("id2", "n2", "hs2"), "id2")
      // |set ∩ set| via the codegen'd primitive probe table —
      // size(array_intersect(...)) boxed every element AND materialized
      // the intersection array just to size() it, once per CANDIDATE
      // PAIR (the dominant term of the sf100 LSH leg); equality on the
      // null-free shingle-hash sets is spec'd in ExprsSpec
      .withColumn("common", graft.functions.F.intersect_count(col("hs1"), col("hs2")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Incremental exact dedup — the daily-increment production pattern:
    * flag each BATCH document against the already-ingested corpus and
    * against the batch itself. Output one row per batch doc:
    * (id, fp, batch_canonical_id, corpus_dup_of, keep) where
    * corpus_dup_of = min corpus id sharing the fingerprint (null if the
    * content is new), batch_canonical_id = min batch id sharing it, and
    * keep = 1 iff the doc is the batch canonical AND unseen in the corpus
    * — exactly the rows an idempotent ingest appends.
    *
    * Shape at scale: the corpus side collapses to one (fp → min id) row
    * per distinct fingerprint via a map-side-combined aggregate; the batch
    * takes one window shuffle; they meet in a join keyed on fp. A
    * production system persists the corpus fingerprint index (bucketed by
    * fp — [[graft.operators.Scale.writeBucketed]]) so each increment
    * re-shuffles only the batch, not the 100 TB corpus. */
  def incrementalExact(batch: DataFrame, corpus: DataFrame,
                       id: String, text: String): DataFrame = {
    val bf = batch.select(col(id), fingerprint(col(text)).as("fp"))
    val cf = corpus.select(col(id), fingerprint(col(text)).as("fp"))
      .groupBy(col("fp")).agg(min(col(id)).as("corpus_dup_of"))
    val w = Window.partitionBy(col("fp"))
    bf.withColumn("batch_canonical_id", min(col(id)).over(w))
      .join(cf, Seq("fp"), "left")
      .withColumn("keep",
        (col("corpus_dup_of").isNull && (col(id) === col("batch_canonical_id")))
          .cast("int"))
      .select(col(id), col("fp"), col("batch_canonical_id"),
        col("corpus_dup_of"), col("keep"))
  }

  /** [[incrementalExact]] with a Bloom PREFILTER on the batch side — the
    * rare-overlap production case (most of a daily increment is NEW
    * content): the corpus fingerprint index is summarized as a [[Bloom]]
    * bit array, every batch row probes it scan-side (codegen'd column
    * algebra, zero shuffle), and only the probe SURVIVORS take the exact
    * fp join; definite-new rows bypass the join entirely with a null
    * corpus_dup_of. Bloom false positives are eliminated by the exact
    * confirm join, so the output is bit-identical to [[incrementalExact]]
    * (gated on the same oracle SQL; the union branches cannot disagree —
    * a filter-rejected row provably has no index match).
    *
    * Same persistence caveat as the plain variant, sharpened: production
    * keeps the fp index AND its built filter words next to it (the words
    * array is ~2 bytes/distinct fp), so an increment re-shuffles only the
    * probe survivors ≈ true re-crawls + the filter's FPR of the batch —
    * not the whole batch, and never the corpus. Sizing envelope: the
    * quoted ~0.6% FPR (16 bits/elem, k=3) holds while
    * [[Bloom.bitsLog2For]] can grant the full 16 bits/elem, i.e. up to
    * ~10^9 distinct corpus fingerprints at its 2^34-bit (2 GiB) cap;
    * beyond that the cap shrinks bits-per-element and the FPR climbs, so
    * past ~10^9 fingerprints shard the filter (partition the fp space,
    * one filter per shard) rather than growing one bit array. Built here inline (count + build = two
    * index-side aggregates) for the self-contained form, exactly like
    * [[ngramContaminationBloom]].
    *
    * Cost note: the two union branches each re-evaluate the batch-side
    * fingerprint projection and canonical-id window (Catalyst recomputes
    * shared subtrees across a Union). The batch is small by definition —
    * an increment — but a caller whose batch frame is itself expensive
    * to compute should `localCheckpoint` it first. */
  def incrementalExactBloom(batch: DataFrame, corpus: DataFrame,
                            id: String, text: String,
                            bitsPerElem: Int = 16, k: Int = 3): DataFrame = {
    val bf = batch.select(col(id), fingerprint(col(text)).as("fp"))
    val cf = corpus.select(col(id), fingerprint(col(text)).as("fp"))
      .groupBy(col("fp")).agg(min(col(id)).as("corpus_dup_of"))
    val ch = cf.select(xxhash64(col("fp")).as("h"))
    val bitsLog2 = Bloom.bitsLog2For(ch.count(), bitsPerElem)
    val words = Bloom.build(ch, "h", bitsLog2, k)
    val w = Window.partitionBy(col("fp"))
    val flagged = bf
      .withColumn("batch_canonical_id", min(col(id)).over(w))
      .withColumn("__maybe",
        Bloom.mightContain(xxhash64(col("fp")), words, bitsLog2, k))
    val confirmed = flagged.filter(col("__maybe"))
      .join(cf.select(col("fp"), col("corpus_dup_of")), Seq("fp"), "left")
    val definiteNew = flagged.filter(!col("__maybe"))
      .withColumn("corpus_dup_of",
        lit(null).cast(cf.schema("corpus_dup_of").dataType))
    confirmed.unionByName(definiteNew)
      .withColumn("keep",
        (col("corpus_dup_of").isNull && (col(id) === col("batch_canonical_id")))
          .cast("int"))
      .select(col(id), col("fp"), col("batch_canonical_id"),
        col("corpus_dup_of"), col("keep"))
  }

  /** Incremental MinHash+LSH near-dup: candidate pairs are (batch doc,
    * corpus doc) sharing a band bucket — the batch never self-pairs and
    * the corpus never re-pairs against itself, so an increment costs
    * O(batch buckets ⋈ corpus buckets), not another full-corpus pass.
    * Returns (id1 = batch id, id2 = corpus id, jaccard ≥ threshold).
    * Production persists the corpus band-bucket table (partitioned by
    * (band, key)) and the per-doc signature payloads; each increment then
    * shuffles only the batch side.
    *
    * Hot-bucket cap semantics: the cap applies PER SIDE, which bounds a
    * bucket's cross fan-out at cap² — the same bound the self-join cap
    * gives [[minhashLshPairs]]. Consequence: on data where a cap FIRES,
    * incremental output is not exactly the cross-side restriction of a
    * full [[minhashLshPairs]] run over the union (the union bucket can
    * exceed the cap while each side stays under it); on cap-free data the
    * two agree exactly (OpsSpec pins that equivalence). A pipeline
    * validating increments against periodic full re-runs should compare
    * uncapped or at matched per-side caps.
    *
    * Id spaces: batch and corpus ids are ASSUMED disjoint (they are
    * different ingest generations); the candidate set still guards
    * `id1 =!= id2` so a violated assumption yields at worst a missing
    * cross-pair for the colliding id, never a degenerate (x, x, 1.0)
    * self-pair. */
  def incrementalMinhashPairs(batch: DataFrame, corpus: DataFrame,
                              id: String, text: String,
                              n: Int = 3, k: Int = 8, bands: Int = 4,
                              threshold: Double = 0.5,
                              maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    val (pc, bc) = minhashIndexTables(corpus, id, text, n, k, bands, maxBandBucketSize)
    incrementalMinhashPairsAgainst(batch, pc, bc, id, text, n, k, bands,
      threshold, maxBandBucketSize)
  }

  /** The persistable MinHash corpus index that makes
    * [[incrementalMinhashPairs]]'s production claim concrete: `perDoc` —
    * the (id, m0..m{k-1}, n_sh, hs) signature + verification payload —
    * and `buckets` — the (id, band, key) banded bucket table, already
    * hot-bucket-capped. Write both to parquet (bucket `buckets` by
    * (band, key) and `perDoc` by id via
    * [[graft.operators.Scale.writeBucketed]] so the increment join and
    * the verification join find co-located sides), reload, and feed
    * [[incrementalMinhashPairsAgainst]]: each increment then shuffles
    * ONLY the batch — the 100 TB corpus is never re-shingled or
    * re-signed. The train-once/score-many pattern of [[lmPairTable]] /
    * scoreCdfTable, applied to dedup. */
  def minhashIndexTables(corpus: DataFrame, id: String, text: String,
                         n: Int = 3, k: Int = 8, bands: Int = 4,
                         maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize)
      : (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must divide into equal bands")
    val pc = minhashPerDoc(corpus, id, text, n, k)
    (pc, bandBuckets(pc, id, k, bands, maxBandBucketSize))
  }

  /** [[minhashIndexTables]] WITHOUT the per-doc hs verification payload —
    * the persisted face of the r15 verify-payload shrink. The payload
    * index stores every document's full shingle-hash set: O(Σ shingles),
    * essentially a second copy of the corpus at 100 TB. The slim index
    * stores k minhash mins + a shingle count per doc — O(k·docs), ~a
    * thousandth of the corpus — and verification re-derives hash sets
    * for CANDIDATE corpus docs from the corpus TEXT table instead
    * (see [[incrementalMinhashPairsAgainstSlim]]). perDoc still carries
    * the signatures so the index can be re-banded (different `bands`)
    * without re-shingling the corpus. */
  def minhashIndexTablesSlim(corpus: DataFrame, id: String, text: String,
                             n: Int = 3, k: Int = 8, bands: Int = 4,
                             maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize)
      : (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must divide into equal bands")
    val pc = minhashPerDocSlim(corpus, id, text, n, k)
    (pc, bandBuckets(pc, id, k, bands, maxBandBucketSize))
  }

  /** [[incrementalMinhashPairsAgainst]] for a SLIM (payload-free) corpus
    * index: candidates come from the batch's band keys probing the
    * reloaded bucket table exactly as the payload variant, and
    * verification re-derives shingle-hash sets for candidate documents
    * only — batch side from `batch`, corpus side from `corpusText` (the
    * corpus text table the index was built from; pass the same columns,
    * id-bucketed so the candidate semi-join prunes instead of scanning).
    * Both re-derives run through [[hashSetsFor]], so the two intersection
    * sides share the xx hash regime by construction. Same cap and
    * id-space semantics as the payload variant; values identical
    * (same md5-derived candidates, and jaccard is
    * hash-regime-independent absent 60-bit collisions — the
    * `dedup_ngram_jaccard_xx` gate's argument), which is why
    * `dedup_incremental_minhash_slim` gates on the SAME oracle SQL. */
  def incrementalMinhashPairsAgainstSlim(batch: DataFrame,
                                         corpusText: DataFrame,
                                         corpusBuckets: DataFrame,
                                         id: String, text: String,
                                         n: Int = 3, k: Int = 8, bands: Int = 4,
                                         threshold: Double = 0.5,
                                         maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val pb = minhashPerDocSlim(batch, id, text, n, k)
    val cand = bandBuckets(pb, id, k, bands, maxBandBucketSize).toDF("id1", "band", "key")
      .join(corpusBuckets.select(col(id), col("band"), col("key"))
          .toDF("id2", "band", "key"),
        Seq("band", "key"))
      .filter(col("id1") =!= col("id2"))
      .select("id1", "id2").distinct()
    val hsBatch = hashSetsFor(batch, id, text, n,
      cand.select(col("id1").as(id)).distinct())
    val hsCorpus = hashSetsFor(corpusText, id, text, n,
      cand.select(col("id2").as(id)).distinct())
    verifyJaccard(cand, hsBatch, id, threshold, rightPerDoc = Some(hsCorpus))
  }

  /** Inline convenience over [[minhashIndexTablesSlim]] +
    * [[incrementalMinhashPairsAgainstSlim]] — builds the slim index and
    * scores the batch in one call (the gate's entry point; production
    * persists the index and calls the Against form per increment). */
  def incrementalMinhashPairsSlim(batch: DataFrame, corpus: DataFrame,
                                  id: String, text: String,
                                  n: Int = 3, k: Int = 8, bands: Int = 4,
                                  threshold: Double = 0.5,
                                  maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    val (_, bc) = minhashIndexTablesSlim(corpus, id, text, n, k, bands,
      maxBandBucketSize)
    incrementalMinhashPairsAgainstSlim(batch, corpus, bc, id, text, n, k,
      bands, threshold, maxBandBucketSize)
  }

  /** [[incrementalMinhashPairs]] against a PRE-BUILT (typically
    * parquet-reloaded) corpus index from [[minhashIndexTables]] — the
    * inline variant delegates here, so the two cannot diverge. The
    * batch's (n, k, bands) MUST match the parameters the index was built
    * with: k is re-derivable from the payload schema, but a different
    * shingle order n changes the hash universe SILENTLY — persist the
    * parameters next to the index and assert them on load. The corpus
    * bucket table arrives already capped (build-time), so the cap here
    * bounds only the batch side — the same per-side semantics the inline
    * variant documents. */
  def incrementalMinhashPairsAgainst(batch: DataFrame,
                                     corpusPerDoc: DataFrame,
                                     corpusBuckets: DataFrame,
                                     id: String, text: String,
                                     n: Int = 3, k: Int = 8, bands: Int = 4,
                                     threshold: Double = 0.5,
                                     maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val pb = minhashPerDoc(batch, id, text, n, k)
    // project the reloaded tables to exactly the expected columns (a
    // persisted table may carry partition columns), as the LM/CDF joins do
    val cand = bandBuckets(pb, id, k, bands, maxBandBucketSize).toDF("id1", "band", "key")
      .join(corpusBuckets.select(col(id), col("band"), col("key"))
          .toDF("id2", "band", "key"),
        Seq("band", "key"))
      .filter(col("id1") =!= col("id2"))
      .select("id1", "id2").distinct()
    verifyJaccard(cand, pb, id, threshold,
      rightPerDoc = Some(corpusPerDoc))
  }

  /** Near-dup clustering: connected components over an undirected pair
    * graph by iterative min-label propagation — every node repeatedly
    * adopts the smallest component label among itself and its neighbors
    * until a fixpoint. Each iteration is one equi-join + one aggregate
    * over the message union (the node's own label rides along as a
    * message, so no second join re-attaches it), and the seed aggregate
    * already applies the first propagation (comp = min(id, min
    * neighbor)); the loop runs O(max component diameter) times — near-dup
    * graphs are star-like, so typically 1-3 iterations. Deterministic:
    * the fixpoint is exactly min(doc id) per component, independent of
    * execution order. localCheckpoint truncates the per-iteration lineage
    * (no exponential plan growth); dead iterations' checkpoint blocks are
    * unpersisted eagerly, so only the final labels checkpoint — the one
    * backing the returned plan — outlives the call. For adversarial
    * high-diameter graphs at
    * 100 TB, swap the propagation step for the large-star/small-star
    * rounds of Kiveris et al., "Connected Components in MapReduce and
    * Beyond" (SoCC'14) — same join shape, fewer rounds. */
  def connectedComponents(ids: DataFrame, idCol: String, pairs: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    // the label arithmetic casts ids to long, which turns a string id into
    // NULL and silently makes every doc a singleton: check the schema (no
    // job, no plan change) and fail loudly instead
    val idFields = Seq(ids.select(idCol), pairs.select("id1"), pairs.select("id2"))
      .map(_.schema.head)
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
    require(idFields.forall(f => Set[DataType](ByteType, ShortType, IntegerType, LongType)(f.dataType)),
      "connectedComponents needs integral ids, got " +
        idFields.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    // symmetrize in ONE pass over the pair plan: exploding each pair into
    // both directions runs the (often expensive — a whole LSH pipeline)
    // pair derivation once, where the old union-of-two-selects shape ran
    // every post-exchange stage of it twice (AQE exchange reuse only
    // deduplicates up to the last shuffle; compprobe measured the union
    // shape at 3.63 s vs 2.87 s for this explode at sf0.1)
    val edges = pairs.select(explode(array(
        struct(col("id1").cast("long").as("src"), col("id2").cast("long").as("dst")),
        struct(col("id2").cast("long").as("src"), col("id1").cast("long").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .localCheckpoint(true)
    // propagate only over nodes that appear in a pair — singletons never
    // enter the loop (in a near-dup workload that is almost every doc).
    // Init folds the FIRST propagation into the seeding aggregate:
    // comp = min(id, min neighbor) costs the same one shuffle as the old
    // distinct()-over-src seed but starts one round ahead, so star-shaped
    // near-dup graphs (the common case) converge in 1 confirming
    // iteration instead of 2.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("comp"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    // labels only ever decrease, so sum(comp) is strictly decreasing until
    // the fixpoint — an O(1)-row convergence probe instead of a self-join
    def compSum(df: DataFrame): Long = // coalesce: sum over 0 rows is NULL
      df.agg(coalesce(sum(col("comp")), lit(0L))).first().getLong(0)
    var prevSum = compSum(labels)
    while (!converged && iter < maxIter) {
      // one join + one aggregate per round: neighbor labels arrive as
      // messages (src ← label of dst), the node's own label rides along
      // via the union, and min-per-node applies the update — the old
      // shape's second join (labels ⋈ neighMin) is gone
      val prev = labels
      labels = edges
        .join(labels.select(col("id").as("dst"), col("comp")), Seq("dst"))
        .select(col("src").as("id"), col("comp"))
        .unionByName(labels)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(true)
      // the new checkpoint is eager, so the previous iteration's blocks are
      // dead — free them now; ContextCleaner would only reclaim them at some
      // later GC, leaking one labels copy per iteration into storage memory
      Bridge.backingRdds(prev).foreach(_.unpersist(blocking = false))
      val curSum = compSum(labels)
      converged = curSum == prevSum
      prevSum = curSum
      iter += 1
    }
    // the returned plan joins only `labels` — the edge blocks are dead too
    Bridge.backingRdds(edges).foreach(_.unpersist(blocking = false))
    // silent truncation would return WRONG components (e.g. a path graph of
    // diameter > maxIter); fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter iterations; " +
        "raise maxIter or use star-contraction rounds for high-diameter graphs")
    ids.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol).cast("long")).as("component"))
  }

  /** Near-dup SELECTION policy over a component labeling: keep the single
    * best-scoring document per component (ties broken to the smallest id,
    * so the min-id policy is the score≡constant special case). Production
    * dedup keeps the highest-QUALITY copy, not the first-crawled one —
    * min-id keeps whichever mirror happened to be ingested first.
    * Output: one row per labeled doc with (id, component, score, keep_id,
    * is_kept); filter `is_kept = 1` for the surviving corpus.
    *
    * Shape: one join of the score projection with the labeling, then ONE
    * unordered window over the component — the argmax is a max over
    * (score, −id) structs, so there is no per-partition sort and the
    * shuffle key is the component (already the labeling's key, so under
    * AQE the exchange is typically reused). */
  def keepBest(docs: DataFrame, id: String, components: DataFrame,
               score: Column): DataFrame = {
    val scored = docs.select(col(id), score.as("score")).join(components, Seq(id))
    val w = Window.partitionBy(col("component"))
    val best = max(struct(col("score"), (-col(id)).as("tie"), col(id).as("bid"))).over(w)
    scored
      .withColumn("keep_id", best.getField("bid"))
      .select(col(id), col("component"), col("score"), col("keep_id"),
        (col(id) === col("keep_id")).cast("int").as("is_kept"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the high-diameter companion to
    * [[connectedComponents]]: min-label propagation needs O(diameter)
    * rounds, star contraction O(log n) w.h.p., so a 1M-node path graph
    * converges in ~20 rounds instead of 1M. Each round is two
    * groupBy-min + join passes (large-star hooks every node above its
    * neighborhood min, small-star re-points each node's smaller neighbors
    * at the local min), expressed as joins — neighbor lists are never
    * collected. The fixpoint is a star forest whose centers are the
    * component minima, so results are deterministic and identical to
    * [[connectedComponents]]. Convergence is detected by an edge-set
    * signature (count + bit_xor of the full 64-bit xxhash64) — a
    * probabilistic equality whose per-round collision odds are ~2^-64
    * (two DIFFERENT distinct-edge sets xor-collide only through hash
    * collisions). Same checkpoint discipline as the propagation loop:
    * each round's blocks are freed eagerly. */
  def connectedComponentsStar(ids: DataFrame, idCol: String, pairs: DataFrame,
                              maxIter: Int = 30): DataFrame = {
    def ckptSwap(next: DataFrame, prev: Option[DataFrame]): DataFrame = {
      val out = next.localCheckpoint(true)
      prev.foreach(p => Bridge.backingRdds(p).foreach(_.unpersist(blocking = false)))
      out
    }
    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor keeps the FULL 64 bits (xor can't overflow, so no mod is
      // needed) — summing the hashes mod 1e9+7 would shrink the space to
      // ~2^30 and give ~1e-9 per-round false-convergence odds; xor of
      // distinct-edge hashes collides only at ~2^-64. Order-independent,
      // so the aggregate is deterministic across partitionings.
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    var edges = ckptSwap(
      pairs.select(col("id1").cast("long").as("u"), col("id2").cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct(), None)
    var iter = 0
    var prevSig = signature(edges)
    var converged = prevSig._1 == 0L // no edges: all singletons
    while (!converged && iter < maxIter) {
      // large-star: m = min(N(u) ∪ {u}); hook every neighbor v > u onto m.
      // m <= u < v, so no self-loops and every edge keeps child > parent.
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      val large = sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
        .distinct()
      // small-star: orient child→parent, m = min of each child's parents;
      // re-point every parent (and the child itself) at m.
      val o = large.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins2 = o.groupBy("u").agg(min(col("v")).as("mn"))
      val small = o.join(mins2, "u")
        .select(col("v").as("u"), col("mn").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(mins2.select(col("u"), col("mn").as("v")))
        .distinct()
      edges = ckptSwap(small, Some(edges))
      val curSig = signature(edges)
      converged = curSig == prevSig
      prevSig = curSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxIter rounds")
    ids.select(col(idCol))
      .join(edges.select(col("u").as(idCol), col("v").as("component")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol).cast("long")).as("component"))
  }

  /** 60-bit SimHash over whitespace tokens (frequency-weighted): for each
    * bit b, sum +1/-1 over tokens by bit b of hash60(token); bit set iff
    * sum > 0. Single groupBy with 60 conditional-sum aggregates — one
    * shuffle, no explode of the bit dimension.
    * NEGATIVE RESULT (measured sf0.1, do not retry): a zero-shuffle
    * scan-side variant — hash tokens once into a per-doc array, then 60
    * static per-bit aggregate() folds — is 1.5× SLOWER (0.72 s vs
    * 0.47 s). Unlike repetitionSignalsScanSide (array_sort + ONE fold,
    * 12× win), 60 interpreted folds per row lose to the codegen'd
    * exploded aggregation with map-side combine — the HOF tax scales with
    * the number of folds, not the shuffle it avoids. */
  val SimhashBits = 60
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val tok = df.select(col(id), explode(tokens(col(text))).as("t"))
      .withColumn("h", hash60(col("t")))
    val bitSums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"s$b"))
    val sums = tok.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until SimhashBits).map(b =>
      when(col(s"s$b") > 0L, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    sums.select(col(id), sim.as("simhash"))
  }

  /** SimHash near-dup pairs via band join (bands of 15 bits → any shared
    * band is a candidate) + Hamming distance filter. `maxBandBucketSize`
    * is the same hot-bucket valve as in [[minhashLshPairs]] (identical
    * docs share ALL bands, so mass duplication concentrates in single
    * buckets); capped output ⊆ uncapped, both oracle-gated. */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3,
                   maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    val bandsN = 4
    val bandBits = SimhashBits / bandsN // 15
    val sim = simhash(df, id, text)
    val bandCols = (0 until bandsN).map { i =>
      struct(lit(i).as("band"),
        shiftright(col("simhash"), i * bandBits).bitwiseAND(lit((1L << bandBits) - 1)).as("key"))
    }
    // repartition on the join key so ReuseExchange shares ONE run of the
    // token-explode + 60-aggregate pipeline across both self-join sides
    // (a broadcast right side would recompute it end-to-end)
    val buckets0 = sim.select(col(id), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col(id), col("simhash"), col("b.band").as("band"), col("b.key").as("key"))
      .repartition(col("band"), col("key"))
    val buckets = maxBandBucketSize match {
      case Some(cap) =>
        val w = Window.partitionBy(col("band"), col("key"))
        buckets0.withColumn("__bs", count(lit(1)).over(w))
          .filter(col("__bs") <= cap)
          .select(col(id), col("simhash"), col("band"), col("key"))
      case None => buckets0
    }
    val cand = buckets.toDF("id1", "sim1", "band", "key")
      .join(buckets.toDF("id2", "sim2", "band", "key"), Seq("band", "key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "sim1", "sim2").distinct()
    cand
      .withColumn("hamming", bit_count(col("sim1").bitwiseXOR(col("sim2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Video near-dup pairs over a per-frame perceptual-hash table
    * ([[Multimodal.videoFrameHashTable]]): two videos are near-dups when
    * they share at least `minCommonFrames` DISTINCT frame hashes — the
    * shingle-overlap pattern ([[ngramContamination]]) lifted to video,
    * where a frame hash plays the shingle's role. Candidate generation is
    * an equi-join on the hash (never all-pairs); `maxVideosPerHash` is
    * the same hot-key valve as the shingle-df cap (a black/intro frame
    * shared by everything would otherwise pair everything — capped pairs
    * ⊆ uncapped, OpsSpec-checked). Emits (id1, id2, common_frames,
    * jaccard) with jaccard over distinct frame-hash sets. */
  def videoPairs(frameHashes: DataFrame, id: String, hash: String,
                 minCommonFrames: Int = 2,
                 maxVideosPerHash: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    val h0 = frameHashes.select(col(id), col(hash).as("__h")).distinct()
    val counts = h0.groupBy(col(id))
      .agg(count(lit(1)).as("__nf"))
    val h = maxVideosPerHash match {
      case Some(cap) =>
        val w = Window.partitionBy(col("__h"))
        h0.withColumn("__hs", count(lit(1)).over(w))
          .filter(col("__hs") <= cap)
          .select(col(id), col("__h"))
      case None => h0
    }
    val common = h.toDF("id1", "__h")
      .join(h.toDF("id2", "__h"), Seq("__h"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("common_frames"))
      .filter(col("common_frames") >= minCommonFrames)
    common
      .join(counts.toDF("id1", "__n1"), Seq("id1"))
      .join(counts.toDF("id2", "__n2"), Seq("id2"))
      .select(col("id1"), col("id2"), col("common_frames"),
        (col("common_frames").cast("double") /
          (col("__n1") + col("__n2") - col("common_frames")).cast("double"))
          .as("jaccard"))
  }

  /** Image near-dup pairs over a precomputed 64-bit perceptual-hash table
    * ([[Multimodal.phashTable]]) — the standard image-dedup pass of a
    * multimodal training pipeline, banded exactly like [[simhashPairs]]:
    * 4 bands of 16 bits, any shared band is a candidate, Hamming filter
    * after. Same hot-bucket valve (identical images share ALL bands, so
    * mass duplication concentrates in single buckets); capped output ⊆
    * uncapped. The hash column is input, not computed here, so the join
    * works for ANY 64-bit perceptual hash (DCT pHash, average hash, …)
    * and the candidate generation never materializes all pairs. */
  def phashPairs(hashes: DataFrame, id: String, hash: String,
                 maxHamming: Int = 6,
                 maxBandBucketSize: Option[Int] = Dedup.DefaultMaxBandBucketSize): DataFrame = {
    val bandsN = 4
    val bandBits = 16
    val bandCols = (0 until bandsN).map { i =>
      struct(lit(i).as("band"),
        shiftright(col(hash), i * bandBits).bitwiseAND(lit((1L << bandBits) - 1)).as("key"))
    }
    // repartition on the join key so ReuseExchange shares ONE run of the
    // upstream hash pipeline (usually an image decode) across both
    // self-join sides — the same trick as simhashPairs
    val buckets0 = hashes
      .select(col(id), col(hash).as("__ph"), explode(array(bandCols: _*)).as("b"))
      .select(col(id), col("__ph"), col("b.band").as("band"), col("b.key").as("key"))
      .repartition(col("band"), col("key"))
    val buckets = maxBandBucketSize match {
      case Some(cap) =>
        val w = Window.partitionBy(col("band"), col("key"))
        buckets0.withColumn("__bs", count(lit(1)).over(w))
          .filter(col("__bs") <= cap)
          .select(col(id), col("__ph"), col("band"), col("key"))
      case None => buckets0
    }
    val cand = buckets.toDF("id1", "ph1", "band", "key")
      .join(buckets.toDF("id2", "ph2", "band", "key"), Seq("band", "key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "ph1", "ph2").distinct()
    cand
      .withColumn("hamming", bit_count(col("ph1").bitwiseXOR(col("ph2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Pairwise n-gram overlap matrix between corpus SLICES (sources,
    * snapshots, dataset versions): for every slice pair, the distinct
    * shingle sets' intersection size, Jaccard, and both directional
    * containments — the dataset-to-dataset counterpart of the per-document
    * dedup ops, answering "how much of corpus B is already in corpus A"
    * before a merge, and the published cross-dataset-contamination audit
    * shape (containment is what matters when one slice is much smaller).
    * Pairs that share nothing still report (zeros) — absence of a row and
    * zero overlap must not be confounded.
    *
    * Shape at 100 TB: the full data collapses to distinct
    * (slice, shingle) rows — everything after operates on the shingle
    * VOCABULARY, never the corpus. This convenience composition leaves
    * the collapse in the lineage (recomputed per consumer); at scale use
    * [[sliceShingleSets]] + [[sliceOverlapFromSets]] with the narrow set
    * pinned, so the corpus scan runs once. The equi-self-join fans each shingle
    * out to at most |slices|² rows by construction (each slice
    * contributes a shingle at most once), so there is no hot-key valve to
    * tune; the totals and the all-pairs frame are |slices|-sized and
    * broadcast. A slice whose documents yield no shingles at all (every
    * doc shorter than n tokens) has an empty shingle set and drops out of
    * the matrix entirely — visible to the caller as the missing slice
    * label, not as a misleading zero-Jaccard row. */
  def sliceOverlapMatrix(df: DataFrame, id: String, text: String,
                         slice: String, n: Int = 3): DataFrame =
    sliceOverlapFromSets(sliceShingleSets(df, text, slice, n))

  /** The distinct (slice, shingle) sets feeding [[sliceOverlapFromSets]]:
    * the corpus collapses once to its per-slice shingle VOCABULARY. Split
    * out because the matrix consumes this frame four times (two totals
    * sides, two self-join sides) — at scale, compute it once and pin the
    * narrow result (`.localCheckpoint(true)` or a parquet write) before
    * handing it over, the same tokenize-once-replay-narrow pattern as the
    * budget-mix gates. */
  def sliceShingleSets(df: DataFrame, text: String, slice: String,
                       n: Int): DataFrame = {
    val t = col("__tokens")
    val sh = when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*))
    ).otherwise(array())
    // same materialize-tokens-first rule as [[shingles]] (inlining the
    // split into the lambda re-tokenizes per element — measured 40×)
    graft.operators.Scale.balanceToCores(df)
      .select(col(slice).as("slice"), tokens(col(text)).as("__tokens"))
      .select(col("slice"), explode(array_distinct(sh)).as("shingle"))
      .distinct()
  }

  /** Exact duplicated-substring spans (Lee, Ippolito, Nystrom, Zhang,
    * Eck, Callison-Burch & Carlini, "Deduplicating Training Data Makes
    * Language Models Better", ACL'22 — the ExactSubstr pass): per
    * document, the maximal token spans whose every k-token window occurs
    * at least `minCount` times in the WHOLE corpus. This is the paper's
    * suffix-array "substring appears more than once in the
    * concatenation" criterion at window granularity — within-doc repeats
    * count toward `minCount` exactly as the suffix array would — and any
    * duplicated run of >= k tokens is caught with exact token bounds
    * (the paper's production threshold is a 50-token span; k is the
    * window length here).
    *
    * Relation to [[substringSpans]] (both are this paper's pass; they
    * answer different questions and differ on two load-bearing axes):
    *  - CRITERION. [[substringSpans]] flags a window duplicated when it
    *    occurs in >= 2 DISTINCT documents; this operator counts TOTAL
    *    occurrences (`minCount`, default 2) — the actual suffix-array
    *    criterion, under which a document repeating its own boilerplate
    *    is flagged too (the gate plants exactly that case and
    *    [[substringSpans]] provably keeps it clean).
    *  - OUTPUT. [[substringSpans]] reports coverage statistics; this
    *    reports the MAXIMAL-SPAN list itself (span count + exact token
    *    bounds arithmetic), i.e. the cut list `substringRemove`-style
    *    consumers act on.
    *  - SHAPE. [[substringSpans]] attaches the dup flag with a
    *    `Window.partitionBy(h)` — one compute pass but a per-partition
    *    SORT of the corpus-sized gram table, the exact stage the r13
    *    winnow sf100 probe measured superlinear (sort buffers compete
    *    with shuffle memory and spill). This operator is SORT-FREE on
    *    the gram table: the duplicated-gram set is its own
    *    map-side-combined aggregation pass (shuffles (h, partial count)
    *    rows — bounded by distinct grams per input partition, tiny next
    *    to the gram table) SHUFFLE_HASH-joined back against the
    *    full-width gram shuffle. The deliberate price is a SECOND
    *    tokenize+hash scan of the corpus for the count branch (forcing
    *    the two branches byte-identical for AQE exchange reuse is not
    *    possible here: `count(struct)` canonicalizes to `count(1)` and
    *    column pruning then rightly strips the count branch to h-only —
    *    the failure mode [[substringSpans]]'s scaladoc records); an
    *    extra columnar scan is linear compute that a cluster scales
    *    horizontally, where the sort it replaces pressures exactly the
    *    memory the shuffle needs.
    *
    * Unlike LSH/winnow there is NO pair join anywhere — duplicated-ness
    * is a property of the gram, not of a doc pair — so there is no
    * fan-out to cap and the pass is work-linear in corpus tokens at any
    * skew (a billion-fold-duplicated boilerplate gram is still one
    * count row). The gaps-and-islands merge windows only over each
    * doc's own duplicated positions (bounded by doc length, never a
    * corpus-wide frame): windows overlapping or touching
    * (next start <= prev start + k) merge, so each reported span's
    * coverage is exactly contiguous and
    * `span_tokens = max_pos - min_pos + k`.
    *
    * Output: one row PER INPUT DOCUMENT (no-dup docs kept at zero — the
    * trim/report list a pipeline consumes must name every doc):
    * (id, n_dup_spans, dup_tokens, total_tokens, dup_permille) with
    * dup_permille as fixed-point integer division, bit-exact
    * cross-engine. */
  def substrDupSpans(df: DataFrame, id: String, text: String,
                     k: Int = 8, minCount: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(minCount >= 2L, s"minCount must be >= 2: $minCount")
    val base = graft.operators.Scale.balanceToCores(df)
      .select(col(id), tokens(col(text)).as("__t"))
    val grams = base
      .select(col(id), explode(
        when(size(col("__t")) >= k,
          transform(sequence(lit(1), size(col("__t")) - (k - 1)), i =>
            struct(i.as("pos"),
              hash60(concat_ws(" ",
                (0 until k).map(o => element_at(col("__t"), i + o)): _*))
                .as("h"))))
          .otherwise(array().cast("array<struct<pos:int,h:bigint>>")))
        .as("g"))
      .filter(col(id).isNotNull)
      .select(col(id), col("g.pos").as("pos"), col("g.h").as("h"))
    // NO repartition before this groupBy: the ENSURE_REQUIREMENTS
    // exchange it inserts keeps the partial aggregate BELOW the shuffle
    // (map-side combine), so this branch ships (h, count) partials —
    // an explicit repartition(h) here was measured to hoist both
    // aggregates above the exchange and ship every gram occurrence
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select(col("h"))
    // join side takes the one full-width gram shuffle; the dup set
    // arrives already h-partitioned from its aggregation, so the
    // SHUFFLE_HASH pin adds no exchange — and a broadcast would be
    // wrong at any real SF (the duplicated set is corpus-scale in the
    // boilerplate-heavy worst case)
    val dupPos = grams.repartition(col("h"))
      .join(dup.hint("SHUFFLE_HASH"), Seq("h"))
      .select(col(id), col("pos"))
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("__brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + k, lit(1))
          .otherwise(lit(0)))
      .withColumn("__isl", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(id), col("__isl"))
      .agg((max(col("pos")) - min(col("pos")) + k).cast("bigint")
        .as("span_tokens"))
    val perDoc = spans.groupBy(col(id))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_tokens")).as("dup_tokens"))
    base.select(col(id), size(col("__t")).cast("bigint").as("total_tokens"))
      .join(perDoc, Seq(id), "left")
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_permille",
        when(col("total_tokens") > 0,
          expr("(1000 * dup_tokens) div total_tokens"))
          .otherwise(lit(0L)))
      .select(col(id), col("n_dup_spans"), col("dup_tokens"),
        col("total_tokens"), col("dup_permille"))
  }

  /** The matrix over precomputed [[sliceShingleSets]] output. */
  def sliceOverlapFromSets(ss: DataFrame): DataFrame = {
    val tot = ss.groupBy(col("slice")).agg(count(lit(1)).as("n"))
    val inter = ss.toDF("slice_a", "shingle")
      .join(ss.toDF("slice_b", "shingle"), Seq("shingle"))
      .filter(col("slice_a") < col("slice_b"))
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(count(lit(1)).as("n_shared"))
    val pairs = broadcast(tot.toDF("slice_a", "n_a"))
      .join(broadcast(tot.toDF("slice_b", "n_b")),
        col("slice_a") < col("slice_b"))
    val shared = coalesce(col("n_shared"), lit(0L))
    pairs.join(inter, Seq("slice_a", "slice_b"), "left")
      .select(col("slice_a"), col("slice_b"), col("n_a"), col("n_b"),
        shared.as("n_shared"),
        (shared.cast("double") /
          (col("n_a") + col("n_b") - shared).cast("double")).as("jaccard"),
        (shared.cast("double") / col("n_a").cast("double")).as("containment_a"),
        (shared.cast("double") / col("n_b").cast("double")).as("containment_b"))
  }
}
