package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The library front door: the graded query surface re-exposed as
  * PARAMETERIZED operators over arbitrary DataFrames — a user's corpus
  * has its own column names, so nothing here assumes the test tables.
  * Each method delegates to the same engine code the oracle-graded
  * queries run (one implementation, two entry styles), and the scale
  * notes on those implementations apply unchanged. These graded
  * queries call a facade directly, so the oracle grades the code
  * embedders run: q_join_asof, q_join_asof_near, q_join_asof_tol,
  * q_join_asof_fwd ([[asofJoin]]), q_join_interval ([[intervalJoin]]),
  * q_win_timerange ([[trailingAgg]]), q_llm_sample
  * ([[stratifiedSample]]), q_llm_cc ([[clusterPairs]]) and q_llm_contain
  * ([[containPairs]]). Others share
  * the facade's body in `graft.queries`: q_llm_knn ([[knnExact]] =
  * `LlmOps.knnQueryOn`), q_graph_ecc ([[eccentricity]] =
  * `GraphOps.eccFold`), q_graph_harmonic ([[harmonicCentrality]] =
  * `GraphOps.harmonicFold`), q_graph_wcloseness ([[weightedCloseness]]
  * = `GraphOps.costEdges` + `wcloseFold`) and q_graph_betweenness_w
  * ([[betweennessWeighted]]'s clamped `GraphOps.costEdges`).
  *
  * Where an operator family is already DataFrame-parameterized it is
  * not wrapped again — use it directly:
  *  - [[graft.queries.LlmOps.jaccardCandidates]] — prefix-filtered
  *    AllPairs candidate generation over any (doc_id, feat) rows.
  *  - [[graft.queries.PipelineOps]]: `pack`, `repScore`,
  *    `tfidfTopTerms`, `mixPlan`, `ingestDedup` over (doc_id, text)
  *    corpora.
  *  - [[graft.operators.ConnectedComponents.run]] — any 2-column edge
  *    list; [[graft.operators.KMeans]] — any (vec_id, e) vectors;
  *    [[graft.operators.ScaleOps]] — salted / bucketed joins (the
  *    Bloom screen and Misra-Gries have facades here: [[bloomScreen]],
  *    [[heavyHitters]]).
  *  - [[graft.streaming.StreamOps]] — every streaming builder takes a
  *    Dataset/DataFrame (batch or stream) already.
  *
  * Materialization: operators cache and cut their multi-consumer
  * intermediates through [[Scope]] (e.g. [[nearDupPairs]]' token table,
  * [[simDupPairs]]' signature table, [[heavyHitters]]' partition
  * summaries, the iterative engines' per-round state). Run a result's
  * materialization inside [[cacheScoped]] (or [[runScoped]]) and
  * everything the operator made is freed when it returns; outside a
  * scope the caches are plain persists, released by
  * `spark.catalog.clearCache()`.
  */
object Graft {

  /** Exact content dedup over any (id, content) pair: one row per input
    * row with its content hash, cluster size, and the cluster keeper
    * (min id). Aggregate + join-back — never a window over the hash, so
    * a viral duplicate combines map-side (shuffle ∝ distinct contents).
    *
    * @param df         any DataFrame.
    * @param idCol      unique row id (orderable; min picks the keeper).
    * @param contentCol the column to hash (string or binary). */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    // NULL contents are SINGLETON clusters (cluster_size=1, keeper=self):
    // missing content is not evidence of duplication, and grouping nulls
    // together (what a bare groupBy over the hash does) would make a
    // keeper-only consumer silently drop every null-content row but one
    // — r9 edge-sweep found the row DROP, r10 advice found the
    // cluster-merge; both halves are pinned in GraftFacadeSuite
    val nn = df.filter(col(contentCol).isNotNull)
    val clusters = nn
      .select(col(idCol), md5(col(contentCol)).as("content_h"))
      .groupBy(col("content_h"))
      .agg(count(lit(1)).as("cluster_size"), min(col(idCol)).as("keeper"))
    nn.select(col(idCol), md5(col(contentCol)).as("h"))
      .join(clusters, col("h") === col("content_h"))
      .select(col(idCol), col("h").as("content_md5"),
        col("cluster_size"), col("keeper"),
        (col(idCol) === col("keeper")).cast("int").as("is_keeper"))
      .unionByName(df.filter(col(contentCol).isNull)
        .select(col(idCol), lit(null).cast("string").as("content_md5"),
          lit(1L).as("cluster_size"), col(idCol).as("keeper"),
          lit(1).as("is_keeper")))
  }

  /** Token-set Jaccard near-duplicate pairs over any corpus — the
    * prefix-filtered AllPairs plan of the graded `q_llm_neardup`
    * (Bayardo et al. 2007: DF-ascending prefixes + exact integer size
    * bound, then an exact integer Jaccard verify — `size(array_intersect)`
    * over the two distinct token sets — on survivors only; hot tokens
    * fall out of every prefix, nothing broadcasts).
    *
    * @param df        corpus.
    * @param idCol     unique doc id.
    * @param textCol   whitespace-tokenizable text; Jaccard is over the
    *                  DISTINCT token set.
    * @param blockCols pairs are only formed within equal values of
    *                  these columns (pass Nil for a global pass —
    *                  correct, but consider MinHash banding first at
    *                  corpus scale).
    * @param tNum,tDen exact rational threshold (e.g. 4/5 for 0.8);
    *                  pairs with jaccard ≥ tNum/tDen are returned — the
    *                  verify filter compares in INTEGER arithmetic
    *                  (inter·tDen ≥ union·tNum), so the rational
    *                  threshold is honored exactly, never through a
    *                  binary-rounded double boundary.
    * @return (id_a, id_b, blockCols…, jaccard) with id_a < id_b
    *         (the pair's block values — both sides agree on them by
    *         construction). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], tNum: Int, tDen: Int): DataFrame = {
    import graft.queries.LlmOps
    LlmOps.setPairs(LlmOps.tokenSets(df, idCol, textCol, blockCols), "tk", blockCols,
        LlmOps.jaccardCandidates(_, blockCols, tNum, tDen))
      .withColumn("n_inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("n_union",
        size(col("set_a")).cast("long") + size(col("set_b")).cast("long")
          - col("n_inter"))
      .filter(col("n_inter") * lit(tDen.toLong) >=
        col("n_union") * lit(tNum.toLong))
      .withColumn("jaccard",
        col("n_inter").cast("double") / col("n_union").cast("double"))
      .select((col("doc_a").as(s"${idCol}_a") +:
        col("doc_b").as(s"${idCol}_b") +: blockCols.map(col)) :+
        col("jaccard"): _*)
  }

  /** Asymmetric CONTAINMENT pairs over any corpus — graded through
    * q_llm_contain: ordered (a, b) where ≥ tNum/tDen of a's
    * distinct tokens also occur in b. The dup criterion Jaccard misses:
    * a short doc swallowed by a long one (re-hosted article + chrome,
    * quote farm) scores low symmetric similarity while the contained
    * side is pure duplication. Candidates via
    * [[graft.queries.LlmOps.containmentCandidates]] (a-prefix × b-full,
    * lossless — see its scaladoc for the pigeonhole argument and the
    * honest b-side cost shape); the threshold is applied as EXACT
    * integer arithmetic (n_inter·tDen ≥ |a|·tNum), never through a
    * binary-rounded double boundary. Cache contract: persists the
    * tokenized projection and the candidate intermediates (see the
    * class scaladoc's cache-contract list).
    * @return (id_a, id_b, blockCols…, containment) with id_a ≠ id_b;
    *         id_a is the contained side. */
  def containPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], tNum: Int, tDen: Int): DataFrame = {
    import graft.queries.LlmOps
    graft.functions.OverlapCount.register(df.sparkSession) // idempotent
    LlmOps.setPairs(LlmOps.tokenSets(df, idCol, textCol, blockCols), "tk", blockCols,
        LlmOps.containmentCandidates(_, blockCols, tNum, tDen))
      .withColumn("n_inter",
        call_function("graft_overlap", col("set_a"), col("set_b")))
      .withColumn("sz_a", size(col("set_a")).cast("long"))
      .filter(col("n_inter") * lit(tDen.toLong) >= col("sz_a") * lit(tNum.toLong))
      .withColumn("containment",
        col("n_inter").cast("double") / col("sz_a").cast("double"))
      .select((col("doc_a").as(s"${idCol}_a") +:
        col("doc_b").as(s"${idCol}_b") +: blockCols.map(col)) :+
        col("containment"): _*)
  }

  /** SimHash near-duplicate pairs over any corpus — the banded plan of
    * the graded `q_llm_simdup`: a 16-bit majority-vote signature per
    * row ([[graft.queries.LlmOps.simhashSigsOn]]), candidates share ≥1
    * of 4 signature bands within their block, verified at hamming ≤ 3
    * via bit_count(xor) — EXACT by pigeonhole (≤3 differing bits touch
    * at most 3 of the 4 bands). Complements [[nearDupPairs]]: SimHash
    * weighs token FREQUENCY overlap, Jaccard the distinct-token SET.
    *
    * @param blockCols pairs form only within equal values (Nil = global).
    * @return (id_a, id_b, blockCols…, hamming) with id_a < id_b. */
  def simDupPairs(df: DataFrame, idCol: String, textCol: String,
                  blockCols: Seq[String]): DataFrame = {
    import graft.queries.LlmOps
    val docs = df.select((col(idCol).as("doc_id") +: blockCols.map(col)) :+
      array_distinct(split(col(textCol), " ")).as("tk"): _*)
    LlmOps.simDupPairsOn(LlmOps.simhashSigsOn(docs, blockCols), blockCols)
      .withColumnRenamed("doc_a", s"${idCol}_a")
      .withColumnRenamed("doc_b", s"${idCol}_b")
  }

  /** Banded sign-LSH cosine near-duplicate pairs over any embedding
    * table — the unbounded-scale plan of the graded `q_llm_embdup_lsh`:
    * 8 bands × 8 sign bits, so only pairs agreeing on ≥1 band within
    * their block are cosine-verified (verify input ∝ candidates, never
    * ∝ corpus²). The scale path when [[nearDupPairs]]/[[simDupPairs]]
    * don't apply because similarity lives in the embedding space.
    *
    * @param vecCol    any numeric array column. Bands read sign bits of
    *                  dims 1..64; vectors shorter than 64 dims zero-fill
    *                  the missing bits, which degrades band SELECTIVITY
    *                  (more candidates verified) but never correctness.
    * @param blockCols pairs form only within equal values (Nil = global).
    * @param simMin    cosine threshold (rounded to 6dp before the cut).
    * @return (idCol_a, idCol_b, blockCols…, sim 6dp) with _a < _b. */
  def embDupPairs(df: DataFrame, idCol: String, vecCol: String,
                  blockCols: Seq[String], simMin: Double): DataFrame = {
    graft.functions.DotF64.register(df.sparkSession)
    // the id keeps its ORIGINAL type (any orderable type works for the
    // a < b orientation) — a silent cast("long") would turn string ids
    // into NULLs and return an empty result with no error
    val base = df.select((col(idCol).as("vec_id") +:
        blockCols.map(col)) :+ col(vecCol).cast("array<double>").as("e"): _*)
      .withColumn("nrm", sqrt(call_function("graft_dot", col("e"), col("e"))))
    graft.queries.LlmOps.embDupPairsOn(base, blockCols, simMin)
      .withColumnRenamed("vec_a", s"${idCol}_a")
      .withColumnRenamed("vec_b", s"${idCol}_b")
  }

  /** Native MinHash signatures (64 minima of the universal hash family
    * over distinct 3-gram shingles) for any corpus — ONE compiled
    * expression per row, zero shuffle ([[graft.functions.MinHashSig]]).
    * Rows with fewer than 3 tokens have no shingles and are dropped.
    *
    * @return (idCol, sig: array<bigint> of 64). */
  def minhashSignatures(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    graft.queries.LlmOps.minhashSigArr(df, idCol, textCol)

  /** Near-dup pair graph → clusters: representative (min id), cluster
    * size, keeper flag per node — hash-min label propagation
    * ([[graft.operators.ConnectedComponents]]; rounds ∝ diameter).
    * Graded through q_llm_cc.
    *
    * @param pairs any 2-column edge list (first = a, second = b). */
  def clusterPairs(pairs: DataFrame): DataFrame = {
    val labels = graft.operators.ConnectedComponents.run(pairs)
    val sizes = labels.groupBy(col("rep").as("r"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, col("rep") === col("r"))
      .select(col("node"), col("rep"), col("cluster_size"),
        (col("node") === col("rep")).cast("int").as("is_rep"))
  }

  /** Keep-BEST selection over a near-dup pair graph (the graded
    * q_llm_keepbest plan): per cluster, the member with the highest
    * score (tie → lowest id) — the decision step that turns cluster
    * labels into a training set. The argmax is a lexicographic
    * struct-max AGGREGATE (map-side combining, shuffle ∝ clusters),
    * never a per-cluster window — a viral cluster combines before the
    * shuffle instead of sorting in one partition.
    *
    * @param pairs    any 2-column LONG edge list (e.g. [[nearDupPairs]]
    *                 output ids).
    * @param scores   one row per node: (idCol, scoreCol). Cluster
    *                 members MISSING from `scores` (or with a NULL
    *                 score) still count toward cluster_size and still
    *                 win on the id tiebreak among unscored members, but
    *                 lose to ANY scored member; a fully unscored
    *                 cluster reports keeper_score = NULL.
    * @param idCol    long node id in `scores` matching the pair ids.
    * @param scoreCol numeric quality score — higher is better.
    * @return (rep, cluster_size, keeper, keeper_score) per cluster. */
  def keepBest(pairs: DataFrame, scores: DataFrame, idCol: String,
               scoreCol: String): DataFrame = {
    val labels = graft.operators.ConnectedComponents.run(pairs)
    // LEFT join: an inner join would silently drop unscored members,
    // undercounting the cluster and mis-electing the keeper
    labels.join(
        scores.select(col(idCol).cast("long").as("kb_id"),
          col(scoreCol).cast("double").as("sc")),
        col("node") === col("kb_id"), "left")
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(
          coalesce(col("sc"), lit(Double.NegativeInfinity)).as("rank_sc"),
          (-col("node")).as("nid"), col("sc"))).as("best"))
      .select(col("rep"), col("cluster_size"),
        (-col("best.nid")).as("keeper"), col("best.sc").as("keeper_score"))
  }

  /** Embedding outlier audit over any (id, vector, label) table (the
    * graded q_llm_outlier plan): per label, the k vectors with the
    * LOWEST cosine to their own label's exact decimal-domain centroid —
    * the mislabeled/noisy-data detector run before training. The
    * centroid table broadcasts; the corpus is scanned but never
    * shuffled; top-k runs as WindowGroupLimit.
    *
    * @return (labelCol, rk, idCol, sim 6dp) — rk ascending by sim. */
  def embOutliers(df: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, k: Int): DataFrame = {
    graft.functions.DotF64.register(df.sparkSession)
    // id keeps its original type (any orderable type serves the
    // deterministic tiebreak) — see embDupPairs
    graft.queries.LlmOps.embOutliersOn(
        df.select(col(idCol).as("vec_id"),
          col(labelCol).as("label"),
          col(vecCol).cast("array<double>").as("e")), k)
      .withColumnRenamed("vec_id", idCol)
      .withColumnRenamed("label", labelCol)
  }

  /** Adapt a custom-schema event stream (batch OR streaming DataFrame)
    * to the typed [[graft.streaming.Event]] shape every
    * [[graft.streaming.StreamOps]] builder consumes — the per-key
    * trackers (causal audit, gap audit, funnel, retention, as-of
    * enrichment, timer sessions) then run unchanged on the caller's
    * stream: `StreamOps.gapAudit(Graft.asEvents(df, "seq", "when",
    * "account", "kind", "amount"))`.
    *
    * @param tsCol a timestamp column (converted to µs). */
  def asEvents(df: DataFrame, idCol: String, tsCol: String, keyCol: String,
               typeCol: String,
               valueCol: String): org.apache.spark.sql.Dataset[graft.streaming.Event] = {
    import org.apache.spark.sql.Encoders
    df.select(col(idCol).cast("long").as("event_id"),
        unix_micros(col(tsCol)).as("ts_us"),
        col(keyCol).cast("long").as("user_id"),
        col(typeCol).cast("string").as("event_type"),
        col(valueCol).cast("double").as("value"))
      .as[graft.streaming.Event](Encoders.product[graft.streaming.Event])
  }

  /** Adapt a custom-schema corpus to the (doc_id, text) shape the
    * remaining [[graft.queries.PipelineOps]] operators expect
    * (`repScore`, `tfidfTopTerms`, `mixPlan`, `ingestDedup`, …):
    * `PipelineOps.repScore(Graft.asCorpus(df, "item_no", "body"))`.
    *
    * @param keep extra columns to carry through unchanged. */
  def asCorpus(df: DataFrame, idCol: String, textCol: String,
               keep: Seq[String] = Nil): DataFrame =
    df.select((col(idCol).as("doc_id") +: keep.map(col)) :+
      col(textCol).as("text"): _*)

  /** Scale-safe exact interpolated percentiles (SQL `percentile_cont`)
    * over arbitrary group/value columns — the graded q_agg_pctile plan:
    * distinct-value-count pre-agg + spillable cumulative-count window
    * locate, NEVER Spark's native `percentile()` (whose heap-only
    * per-group buffer OOMs at corpus scale with few groups).
    *
    * @param ps (fraction in [0,1], output column name) per percentile.
    * @param weightCol optional INTEGRAL per-row weight → the weighted
    *                  interpolated percentile (≡ replicating each row
    *                  weight times, without replicating; PropertySuite
    *                  pins the equivalence law).
    * @return groupCols…, one double column per percentile, n (count or
    *         total weight). */
  def percentiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  ps: Seq[(Double, String)],
                  weightCol: Option[String] = None): DataFrame =
    graft.operators.Percentiles.cont(df, groupCols, valueCol, ps, weightCol)

  /** Scale-safe discrete percentiles (SQL `percentile_disc`, type-1
    * order statistic): the smallest stored value reaching rank ⌈p·n⌉,
    * with p an exact rational so the rank is pure integer arithmetic —
    * zero float boundaries at any group size (the graded
    * q_agg_pctile_disc plan).
    *
    * @param ps (numerator, denominator, output name), e.g. (1,2,"median").
    * @param weightCol optional INTEGRAL per-row weight → the weighted
    *                  percentile (≡ replicating each row weight times,
    *                  without replicating).
    * @return groupCols…, one column per percentile (value's own type),
    *         n (count or total weight). */
  def percentilesDisc(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      ps: Seq[(Int, Int, String)],
                      weightCol: Option[String] = None): DataFrame =
    graft.operators.Percentiles.disc(df, groupCols, valueCol, ps, weightCol)

  /** Winsorized mean per group — the robust mean (outliers CLIPPED to
    * the lo/hi discrete-percentile cut values, not dropped; the graded
    * q_agg_winsor plan). Cut points come from [[percentilesDisc]]
    * (exact rational ranks, values the data already holds — zero float
    * in the cut derivation), the clip runs in the value's own exact
    * type (`least`/`greatest`), and the mean is one sum → one double
    * cast → ONE division. NULL values are excluded explicitly on both
    * the cut and the clip side. Shuffle: the percentile pre-agg
    * (∝ distinct values) + a |groups|-row join-back + one map-side-
    * combined final agg.
    * @param lo/hi cut percentiles as exact rationals, e.g. (1,20) and
    *              (19,20) for the classic 5%/95% winsorization.
    * @return groupCols…, winsor_lo, winsor_hi (value's own type),
    *         winsor_mean (double), n. */
  def winsorizedMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     lo: (Int, Int) = (1, 20),
                     hi: (Int, Int) = (19, 20)): DataFrame =
    graft.operators.Percentiles.winsorizedMean(df, groupCols, valueCol, lo, hi)

  /** Trimmed mean per group — [[winsorizedMean]]'s sibling: rows
    * outside the lo/hi discrete-percentile cuts are DROPPED rather
    * than clipped (the graded q_agg_trimmed plan; both robust means
    * share the [[percentilesDisc]] cut engine and scale shape). The
    * result carries n_kept alongside n so the trimmed-away count is
    * auditable. */
  def trimmedMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  lo: (Int, Int) = (1, 20),
                  hi: (Int, Int) = (19, 20)): DataFrame =
    graft.operators.Percentiles.trimmedMean(df, groupCols, valueCol, lo, hi)

  /** Two-sample Kolmogorov–Smirnov drift statistic per group — the
    * split/sample QA audit (graded q_llm_ksdrift's engine): max CDF gap
    * of `valueCol` between the rows where `sideACol` is true (sample A)
    * and false (sample B); NULL side or value → excluded. Returns
    * groupCols…, ks_stat (unrounded double; NULL if either side is
    * empty), ks_at (smallest value attaining the max gap), n_a, n_b.
    * Shuffle ∝ distinct (group, value) pairs, never ∝ rows. */
  def ksDrift(df: DataFrame, groupCols: Seq[String], valueCol: String,
              sideACol: String): DataFrame =
    graft.operators.Drift.ksDrift(df, groupCols, valueCol, col(sideACol))

  /** 1-D Wasserstein (earth mover's) drift per group — [[ksDrift]]'s
    * magnitude-sensitive companion (graded q_llm_emddrift's engine):
    * total CDF-gap area between the two sides of `sideACol`. The sum is
    * exact integer arithmetic (order-free); emd ships at 6dp. Returns
    * groupCols…, emd, n_a, n_b. */
  def emdDrift(df: DataFrame, groupCols: Seq[String], valueCol: String,
               sideACol: String): DataFrame =
    graft.operators.Drift.emdDrift(df, groupCols, valueCol, col(sideACol))

  /** Total-variation drift per group — the half-L1 pmf gap between the
    * two sides of `sideACol` (graded q_llm_tvdrift's engine): the
    * "a classifier distinguishes the splits with advantage ≤ tv" bound,
    * and the cheapest of the drift family (no cumulative window — one
    * map-side agg after the distinct-value collapse). Exact decimal
    * sum; tv ships at 6dp. Returns groupCols…, tv, n_a, n_b. */
  def tvDrift(df: DataFrame, groupCols: Seq[String], valueCol: String,
              sideACol: String): DataFrame =
    graft.operators.Drift.tvDrift(df, groupCols, valueCol, col(sideACol))

  /** PageRank over any (src, dst) edge list (graded q_graph_pagerank's
    * engine): the link-authority quality prior, d = 0.85, contributions
    * quantized at 1e−12 so iteration sums are exact and order-free.
    * `weightCol` switches to the weighted form (mass splits ∝ weight;
    * duplicate edges sum their weights). Returns (node, r 6dp). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, weightCol: Option[String] = None): DataFrame =
    weightCol match {
      case Some(w) => graft.operators.PageRank.runWeighted(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(w).as("w")), iterations)
      case None => graft.operators.PageRank.run(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
        iterations)
    }

  /** The graph facades' one edge prelude: rename the caller's columns
    * to (`src`, `dst`) — plus `w` when `wCol` is given — drop
    * self-loops unless `keepLoops`, then union the reversed copy and
    * `distinct()`. Weighted rows dedup as whole (src, dst, w) triples
    * (the [[modularityWeighted]] caller contract). ScaleRehearsal's
    * unweighted graph probes build their edge lists with it too. */
  private[graft] def symmetrize(edges: DataFrame, srcCol: String,
                                dstCol: String, wCol: Option[String] = None,
                                keepLoops: Boolean = false): DataFrame = {
    val w = wCol.toSeq
    val named = edges.select(Seq(col(srcCol).as("src"),
      col(dstCol).as("dst")) ++ w.map(c => col(c).as("w")): _*)
    val e = if (keepLoops) named else named.filter(col("src") =!= col("dst"))
    e.union(e.select(Seq(col("dst").as("src"), col("src").as("dst")) ++
      w.map(_ => col("w")): _*)).distinct()
  }

  /** The seed facades' `(seed, node)` frame: distinct `seedIds`, minus
    * ids absent from `g`'s `src` column (a phantom seed would otherwise
    * report itself at distance 0) — empty graph ⟹ no seeds, the
    * Bfs.hops empty-edge convention. */
  private def seedsIn(g: DataFrame, seedIds: Seq[Long]): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    seedIds.distinct.map(i => (i, i)).toDF("seed", "node")
      .join(g.select(col("src").as("node")).distinct(),
        Seq("node"), "left_semi")
  }

  /** Fixed-round k-core peel over any undirected edge list (graded
    * q_graph_kcore's engine, [[graft.operators.KCore]]): nodes
    * surviving `rounds` cascaded degree-< k peels, with their degree in
    * the peeled subgraph. The input lists each undirected edge ONCE in
    * either orientation; symmetrization happens here. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int): DataFrame =
    graft.operators.KCore.peel(
      symmetrize(edges, srcCol, dstCol, keepLoops = true), k, rounds)

  /** Label-propagation communities over any undirected edge list
    * (graded q_graph_labelprop's engine): `rounds` synchronous
    * majority-vote rounds, ties to the smallest label; returns (node,
    * label). Complements [[kCore]] (trim) and `clusterPairs`
    * (reachability union) with the neighborhood-district partition.
    * Self-loop edges (src == dst) are dropped here, upholding
    * LabelProp's "a node's own label does not vote" contract for
    * arbitrary caller graphs (the graded copurchase graph is
    * bipartite-parity-encoded and cannot carry one). */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                     rounds: Int): DataFrame =
    graft.operators.LabelProp.run(symmetrize(edges, srcCol, dstCol), rounds)

  /** WEIGHTED label-propagation communities (graded
    * q_graph_labelprop_w's engine; weight-1 reproduces
    * [[labelPropagate]]): the vote is a neighbor WEIGHT SUM, so heavy
    * edges pull harder. Self-loops dropped. CALLER CONTRACT: one
    * orientation per undirected pair (or both with identical
    * weights), parallel edges pre-aggregated — the
    * [[modularityWeighted]] symmetrization contract. Returns (node,
    * label). */
  def labelPropagateWeighted(edges: DataFrame, srcCol: String,
                             dstCol: String, wCol: String,
                             rounds: Int): DataFrame =
    graft.operators.LabelProp.runW(
      symmetrize(edges, srcCol, dstCol, Some(wCol)), rounds)

  /** WEIGHTED greedy modularity refinement (graded q_graph_refine_w's
    * engine; weight-1 reproduces [[refineCommunities]]): up to `moves`
    * exact-integer argmax single-node moves maximizing WEIGHTED ΔQ —
    * Q_w never decreases. Self-loops dropped; the
    * [[modularityWeighted]] symmetrization caller contract applies.
    * Returns the refined (nodeCol, labelCol) frame with the caller's
    * column names. */
  def refineCommunitiesWeighted(edges: DataFrame, srcCol: String,
                                dstCol: String, wCol: String,
                                labels: DataFrame, nodeCol: String,
                                labelCol: String,
                                moves: Int = 6): DataFrame =
    graft.queries.GraphOps.refineWOn(
        symmetrize(edges, srcCol, dstCol, Some(wCol)),
        labels.select(col(nodeCol).as("node"), col(labelCol).as("label")),
        moves)
      .select(col("node").as(nodeCol), col("label").as(labelCol))

  /** Trailing event-time rolling aggregate over any (key, ts, value)
    * rows (graded through q_win_timerange, r13): per row, the count and
    * decimal value sum of the same key's rows in the trailing
    * `windowUs` microseconds, current row inclusive; RANGE peers
    * (same-µs rows) share one frame. One key-hash exchange on the
    * caller's own key column (renamed to `key` only in the output);
    * WindowExec's sliding frame is O(rows) two-pointer state per
    * partition. Null-ts rows dropped (the r13 as-of discipline).
    * Rows sharing (key, us) are indistinguishable in the default
    * shape; pass `idCol` to carry an input id column verbatim so
    * results join back to input rows (RANGE-frame peer semantics are
    * unaffected by carried columns) — r14, ADVICE fix.
    * @return (key, us, n_win, val_win), plus the id column (its input
    *         name, placed after `key`) when `idCol` is given. */
  def trailingAgg(df: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, windowUs: Long,
                  idCol: Option[String] = None): DataFrame = {
    require(windowUs >= 0, s"windowUs < 0: $windowUs")
    val us = unix_micros(col(tsCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(us.asc)
      .rangeBetween(-windowUs, 0L)
    df.filter(col(tsCol).isNotNull)
      .select(Seq(col(keyCol).as("key")) ++ idCol.toSeq.map(col) ++ Seq(
        us.as("us"),
        count(lit(1)).over(w).as("n_win"),
        round(sum(col(valueCol).cast("double").cast("decimal(18,4)"))
          .over(w), 4).cast("double").as("val_win")): _*)
  }

  /** Interval join over ARBITRARY left/right tables (r13; graded
    * through q_join_interval — the stream-stream interval join batch
    * analog): every (left, right) pair within the same key whose
    * time delta r_ts − l_ts lies in [lowerUs, upperUs] (both bounds
    * inclusive; negative lower bound = right may precede left). The
    * plan is the correct one at any scale: ONE key equi-join (shuffle
    * ∝ rows, AQE broadcasts a small side) with the range bounds as
    * residual predicates — never a cartesian; output ∝ qualifying
    * pairs. Exact integer µs bounds; null-ts rows dropped.
    * @return (key, left_id, l_us, right_id, r_us, delta_us). */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTsCol: String, leftIdCol: String,
                   rightTsCol: String, rightIdCol: String,
                   lowerUs: Long, upperUs: Long): DataFrame = {
    require(lowerUs <= upperUs, s"lowerUs $lowerUs > upperUs $upperUs")
    val l = left.filter(col(leftTsCol).isNotNull)
      .select(col(keyCol).as("key"), col(leftIdCol).as("left_id"),
        unix_micros(col(leftTsCol)).as("l_us"))
    val r = right.filter(col(rightTsCol).isNotNull)
      .select(col(keyCol).as("__rk"), col(rightIdCol).as("right_id"),
        unix_micros(col(rightTsCol)).as("r_us"))
    l.join(r, col("key") === col("__rk")
        && col("r_us") >= col("l_us") + lowerUs
        && col("r_us") <= col("l_us") + upperUs)
      .select(col("key"), col("left_id"), col("l_us"),
        col("right_id"), col("r_us"),
        (col("r_us") - col("l_us")).as("delta_us"))
  }

  /** As-of join over ARBITRARY left/right tables (r13) — the
    * single-scan engine graded through `q_join_asof`, `_near`, `_tol`,
    * `_fwd`: for each left row, the matching right row within the same
    * key by event-time proximity, WITHOUT the join+rank expansion (10⁵ rights
    * × 10⁵ lefts per key costs one 2·10⁵-row sorted pass, not 10¹⁰
    * candidate rows — the windowed as-of is the 100-TB shape).
    *
    * `direction`:
    *  - "backward" (default): latest right with r_ts ≤ l_ts; ties on
    *    (r_ts) break to the HIGHEST right id (the graded contract).
    *  - "forward": earliest right with r_ts ≥ l_ts; ties break lowest.
    *  - "nearest": min ∣Δt∣ either way, equal distance → backward;
    *    same-instant rights count as backward (the q_join_asof_near
    *    documented semantic).
    * `toleranceUs`: matches farther than this are nulled (gap included
    * up to and including the bound), Merge-as-of style.
    *
    * Null right-side rows (no match in range) survive with null match
    * columns — the left-outer as-of contract. Null timestamps on
    * EITHER side are dropped first (a null order key sorts differently
    * across engines — the r13 discipline). One key-hash exchange.
    * @return (key, left_id, l_us, right_id, r_us, gap_us =
    *         l_us − r_us; negative for forward matches). */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               leftTsCol: String, leftIdCol: String,
               rightTsCol: String, rightIdCol: String,
               direction: String = "backward",
               toleranceUs: Option[Long] = None): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got $direction")
    toleranceUs.foreach(t => require(t >= 0, s"toleranceUs < 0: $t"))
    val l = left.filter(col(leftTsCol).isNotNull)
      .select(col(keyCol).as("key"), col(leftIdCol).as("eid"),
        unix_micros(col(leftTsCol)).as("us"), lit(1).as("is_l"))
    val r = right.filter(col(rightTsCol).isNotNull)
      .select(col(keyCol).as("key"), col(rightIdCol).as("eid"),
        unix_micros(col(rightTsCol)).as("us"), lit(0).as("is_l"))
    // interleaved ordering, tie side per direction: backward/nearest
    // sort rights BEFORE lefts at equal us (same-instant right is a
    // backward match — the q_join_asof_near semantic); forward sorts
    // lefts first so its ≥ is inclusive too
    val tieFirst =
      if (direction == "forward") col("is_l").desc else col("is_l").asc
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(col("us").asc, tieFirst, col("eid").asc)
    val back = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val fwd = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.currentRow,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val rRow = when(col("is_l") === 0, struct(col("us"), col("eid")))
    val interleaved = l.unionByName(r)
      .withColumn("cb", max(rRow).over(back))
      .withColumn("cf", min(rRow).over(fwd))
      .filter(col("is_l") === 1)
    val picked = direction match {
      case "backward" => interleaved.withColumn("m", col("cb"))
      case "forward" => interleaved.withColumn("m", col("cf"))
      case "nearest" => interleaved.withColumn("m",
        when(col("cb").isNull, col("cf"))
          .when(col("cf").isNull, col("cb"))
          .when(col("us") - col("cb.us") <= col("cf.us") - col("us"),
            col("cb"))
          .otherwise(col("cf")))
    }
    val tolerated = toleranceUs match {
      case Some(t) => picked.withColumn("m",
        when(abs(col("us") - col("m.us")) <= t, col("m")))
      case None => picked
    }
    tolerated.select(col("key"), col("eid").as("left_id"),
      col("us").as("l_us"),
      col("m.eid").as("right_id"), col("m.us").as("r_us"),
      (col("us") - col("m.us")).as("gap_us"))
  }

  /** SCD2 dimension-history build over any (user_id, event_id, ts)
    * change log (graded q_event_scd2's engine, r13): half-open
    * [eff_from, eff_to) µs ranges per change of `attrCol`, INT
    * current-row flag; null-ts rows dropped. One user-hash exchange —
    * the change-log → dimension-table compaction at its minimum cost. */
  def scd2(events: DataFrame, attrCol: String = "event_type"): DataFrame =
    graft.queries.EventOps.scd2On(events.select(col("user_id"),
      col("event_id"), col("ts"), col(attrCol).as("event_type")))

  /** Welch unequal-variance t-test of per-user value totals between the
    * deterministic md5 arms (graded q_event_abtest_t's engine). Needs
    * (user_id, value) columns; the proportions companion is [[abTest]]
    * semantics via queries.EventOps.abtestOn. */
  def welchAbTest(events: DataFrame): DataFrame =
    graft.queries.EventOps.abtestTOn(events)

  /** Winnowing fingerprints over any (id, text) corpus (graded
    * q_llm_winnow's engine): per doc, gram/window counts plus the
    * deduped min-per-window fingerprint count and the canonical
    * sorted-set md5 — the MOSS-family document sketch with the (K,W)
    * shared-run guarantee. */
  def winnowFingerprints(df: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    graft.queries.LlmOps.winnowOn(asCorpus(df, idCol, textCol))

  /** Winnow-indexed near-dup candidate pairs over any (id, text)
    * corpus (graded q_llm_winnowdup's engine): capped posting lists →
    * pairs sharing ≥ 2 fingerprints with fingerprint-set Jaccard.
    * Persists the sketch + posting tables (cache contract above). */
  def winnowDupPairs(df: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    graft.queries.LlmOps.winnowDupOn(asCorpus(df, idCol, textCol))

  /** RFM quartile segmentation over any event log (graded
    * q_event_rfm's engine): per key, recency/frequency/monetary scored
    * 1–4 against broadcast discrete-percentile cuts. Adapt columns
    * with [[asEvents]]-style names: needs `user_id`, `ts`, `value`. */
  def rfm(events: DataFrame): DataFrame =
    graft.queries.EventOps.rfmOn(events)

  /** Robust daily-volume anomaly flags over any event log (graded
    * q_event_anomaly's engine): per day, count, median, MAD, robust z,
    * flagged at z > 3. Needs a `ts` column. */
  def volumeAnomalies(events: DataFrame): DataFrame =
    graft.queries.EventOps.anomalyOn(events)

  /** Quality-ordered token-budget selection over any (id, text) corpus
    * (graded q_llm_budget's engine): kept flag per doc under the
    * global-cumsum contract, computed bucket-decomposed (no
    * corpus-sized window). */
  def budgetSelect(df: DataFrame, idCol: String, textCol: String,
                   budgetTokens: Long): DataFrame =
    graft.queries.PipelineOps.budgetSelect(
      asCorpus(df, idCol, textCol), budgetTokens)

  /** Box-plot profile over arbitrary (group, value) columns (graded
    * q_agg_boxplot's engine): per group n, min, q1, median, q3, max and
    * the per-side Tukey-fence outlier counts. Quartiles ride the
    * scale-safe percentile engine (never a native heap percentile). */
  def boxplot(df: DataFrame, groupCols: Seq[String],
              valueCol: String): DataFrame =
    graft.queries.Aggregates.boxplotOn(df, groupCols, valueCol)

  /** Sketch-grade approximate quantiles of a numeric column (r13,
    * [[graft.operators.QuantileSketch]] — mergeable KLL-family
    * compactors): one row per requested q with the estimate, exact n,
    * and the deterministic rank-error bound H·n/k. The 100-TB
    * percentile SCREEN — shuffle is O(k·log(n/k)·partitions) coreset
    * rows at any input size, vs the exact [[boxplot]]/percentile
    * engine's shuffle ∝ distinct values. Estimates are
    * layout-dependent within the pinned bound (the heavy-hitters
    * sketch contract); reach for the exact engine when the number
    * itself must be reproducible. */
  def approxQuantiles(df: DataFrame, valueCol: String, k: Int,
                      qs: Seq[Double]): DataFrame =
    graft.operators.QuantileSketch.quantiles(
      df.select(col(valueCol).cast("double")), k, qs)

  /** Grouped [[approxQuantiles]]: one sketch per group per partition
    * (memory O(groups-per-partition · k·log(n/k)) — pre-repartition by
    * the group key when it is high-cardinality), per-group estimates
    * with each group's own H·n/k bound. */
  def approxQuantilesBy(df: DataFrame, groupCols: Seq[String],
                        valueCol: String, k: Int,
                        qs: Seq[Double]): DataFrame =
    graft.operators.QuantileSketch.quantilesBy(df, groupCols, valueCol,
      k, qs)

  /** Run `body` in an owning [[Scope]]: every cache and cut the
    * engine makes inside it — its internal multi-consumer intermediates,
    * which the caller never holds a reference to, and the iterative
    * engines' checkpoint blocks — is freed (blocking) on the way out,
    * while caches that existed before, or that the caller made outside
    * the engine's verbs, are left untouched. `body` must MATERIALIZE
    * whatever it needs (collect/write/count) before returning: a lazy
    * DataFrame escaping the scope recomputes its formerly cached
    * intermediates, and fails on a freed cut. */
  def cacheScoped[A](spark: SparkSession)(body: => A): A = Scope.owning(body)

  /** [[cacheScoped]] loaned over one graded query: builds
    * `SparkEntry.queries(name)`, hands it to `use` for materialization,
    * then frees everything the query made — zero residual persisted
    * RDDs, checkpoint blocks included, host caches intact (pinned in
    * CacheHygieneSuite). */
  def runScoped[A](name: String, spark: SparkSession, sfDir: String)
                  (use: DataFrame => A): A =
    cacheScoped(spark)(use(graft.SparkEntry.queries(name)(spark, sfDir)))

  /** Release EVERY persisted RDD in the session, blocking, whoever made
    * it ([[Scope.sweep]]) — a session-wide hammer for a harness that
    * wants a clean slate between runs. The engine's own runners rely on
    * [[cacheScoped]], which frees exactly what each query made. */
  def sweepRddBlocks(spark: SparkSession): Unit = Scope.sweep(spark)

  /** Spread a too-narrow BATCH scan across the session's cores before a
    * CPU-heavy per-row map (r22, guide §2.5's unsplittable-input fix).
    * A single-row-group parquet file scans as ONE task no matter the
    * core count (row groups are the parquet split atom — the sf0.1
    * corpus tables are all single-group), so an expensive projection
    * over it runs serial; ProfJobs measured the CDC cut scan at 6.9 s
    * on one task with 31 cores idle. Scale-adaptive by construction:
    * when the scan already has at least as many partitions as the
    * session's parallelism (any real multi-file table — a 100 TB input
    * is thousands of row groups), this is the IDENTITY and no shuffle
    * is added; the round-robin repartition only fires for the narrow
    * case, where the shuffled bytes are by definition one task's worth.
    * Batch-only: `df.rdd` is used to read the pre-shuffle partition
    * count (plans, does not execute — callers pass exchange-free scan
    * projections). */
  private[graft] def spreadNarrowScan(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }

  /** First-order Markov transition matrix over any per-key ordered event
    * log (graded q_event_markov's engine): (prev, next, n, p) with
    * P(next ∣ prev) row-conditional. Needs (user_id, event_id,
    * event_type) — adapt via [[asEvents]]-style renames. */
  def transitionMatrix(events: DataFrame): DataFrame =
    graft.queries.EventOps.markovOn(events)

  /** New-vs-returning split per activity day over any event log (graded
    * q_event_newret's engine): day, dau, new_users, returning_users.
    * Needs (user_id, ts). */
  def newVsReturning(events: DataFrame): DataFrame =
    graft.queries.EventOps.newretOn(events)

  /** Last-touch purchase attribution over any event log (graded
    * q_event_attrib's engine): per touch type, purchases credited +
    * share. Needs (user_id, event_type, ts, event_id); the streaming
    * twin is [[graft.streaming.StreamOps.attribMonitor]]. */
  def lastTouchAttribution(events: DataFrame): DataFrame =
    graft.queries.EventOps.attribOn(events)

  /** Gopher quality-filter flags (Rae et al. 2021) over any (id, text)
    * corpus (graded q_llm_gopher's engine): per-rule integer flags +
    * keep_flag. */
  def gopherFlags(df: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    graft.queries.TextOps.gopherOn(asCorpus(df, idCol, textCol))

  /** Character-edit near-dup pairs over any (id, text [, blocks…])
    * corpus (graded q_llm_editdup's engine, r14): unordered same-block
    * pairs at levenshtein ≤ maxD with the distance. Candidates via the
    * LOSSLESS length band (equi-join on (block, len∕maxD bucket) with
    * ±1 neighbor posts — never a block cartesian); survivors pay the
    * TWO lossless gates — the char-histogram L1 prescreen
    * (editDistance ≥ ceil(L1∕2), functions/EditPrefilter.scala) and
    * the thresholded O(maxD·n) banded DP. Blocks bound the quadratic
    * term — pass the tightest natural scoping (lang, domain, shard)
    * the corpus has, exactly as every edit-dedup pipeline pre-blocks —
    * and `bandCap` bounds each (block, band) to its cap lowest ids
    * (candidates ≤ cap²∕2 per band; audit clipped bands with
    * [[editDupOverflow]] — no silent truncation). */
  def editDupPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], maxD: Int,
                   bandCap: Int = graft.queries.LlmOps.EditDupBandCap): DataFrame =
    graft.queries.LlmOps.editDupPairsOn(
      asCorpus(df, idCol, textCol, keep = blockCols), blockCols, maxD,
      bandCap = bandCap)

  /** [[editDupPairs]]'s cap audit: one row per CLIPPED (block, band)
    * group — (blocks…, band, n_docs, n_dropped). Empty when the cap is
    * inert. Run it alongside any capped dedup pass; a non-empty result
    * is the signal to tighten blocks or raise the cap knowingly. */
  def editDupOverflow(df: DataFrame, idCol: String, textCol: String,
                      blockCols: Seq[String], maxD: Int,
                      bandCap: Int = graft.queries.LlmOps.EditDupBandCap): DataFrame =
    graft.queries.LlmOps.editDupOverflowOn(
      asCorpus(df, idCol, textCol, keep = blockCols), blockCols, maxD, bandCap)

  /** Document rarity scores over any (id, text) corpus (graded
    * q_text_rarity's engine, r14): top-k docs by mean floor-quantized
    * integer IDF over their DISTINCT words — the rare-vocabulary
    * selection/QA signal. BIGINT-exact sums; one IEEE division for the
    * mean; top-k is TakeOrdered, window-free. */
  def rarityScores(df: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    graft.queries.TextOps.rarityOn(asCorpus(df, idCol, textCol))

  /** Per-group keyword extraction over any (group, text) corpus
    * (graded q_text_keyness's engine, r14): top words over-represented
    * in each group vs the rest, by exact-integer Haldane-smoothed odds
    * ratio. Caches its (group, word) count table — wrap in
    * [[cacheScoped]] to release it. */
  def keywords(df: DataFrame, groupCol: String,
               textCol: String): DataFrame =
    graft.queries.TextOps.keynessOn(
      df.select(col(groupCol).as("source"), col(textCol).as("text")))

  /** Per-group category-mix profile over any (group, category) frame
    * (graded q_text_langmix's engine, r14): dominant category (ties →
    * lexicographically first), its share, and the exact-integer
    * Gini-Simpson diversity (n² − Σc²) ∕ n². Output columns keep the
    * graded names (`source`, `top_lang`, …). */
  def categoryMix(df: DataFrame, groupCol: String,
                  catCol: String): DataFrame =
    graft.queries.TextOps.langmixOn(
      df.select(col(groupCol).as("source"), col(catCol).as("lang")))

  /** LIX readability over any (id, text) corpus (graded
    * q_text_readability's engine, r14): words∕sentences +
    * 100·longwords∕words from three integer counts; sentence runs of
    * [.!?] floor at 1 so the score is total on unpunctuated text. */
  def readability(df: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    graft.queries.TextOps.readabilityOn(asCorpus(df, idCol, textCol))

  /** Day-of-week concentration over any keyed timestamped stream
    * (graded q_event_seasonality's engine, r14): per key, the exact
    * chi-square of the weekday profile against uniform — multiplied
    * out to the integer form (7·Σo² − n²)∕n — plus the dominant
    * epoch-weekday (epoch-day mod 7; ties → smallest) and its share. */
  def weekdayProfile(df: DataFrame, keyCol: String,
                     tsCol: String): DataFrame =
    graft.queries.EventOps.seasonalityOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts")))

  /** Silent-day gap audit over any keyed timestamped stream (graded
    * q_event_quiet's engine, r14): per key, calendar span vs active
    * days, the longest consecutive silent run, and the gap count —
    * the outage/ingest-hole detector. All integer day arithmetic. */
  def silentGaps(df: DataFrame, keyCol: String,
                 tsCol: String): DataFrame =
    graft.queries.EventOps.quietOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts")))

  /** CUSUM changepoint over any keyed timestamped stream (graded
    * q_event_changepoint's engine, r14): per key, the day maximizing
    * the integer-exact scaled CUSUM \|N·S_k − k·S_N\| over the
    * daily-count series, with before/after means. Keys with a single
    * active day have no valid split and drop out. */
  def changepoint(df: DataFrame, keyCol: String,
                  tsCol: String): DataFrame =
    graft.queries.EventOps.changepointOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts")))

  /** Benford leading-digit profile over any keyed numeric column
    * (graded q_event_benford's engine, r14): per key, count + share of
    * the first significant digit 1-9, extracted exactly through the
    * DECIMAL(18,4) plain string (never floor(log10)); zeros/nulls
    * drop. The fabricated-data / unit-mix-up tripwire. */
  def benfordProfile(df: DataFrame, keyCol: String,
                     valueCol: String): DataFrame =
    graft.queries.EventOps.benfordOn(
      df.select(col(keyCol).as("event_type"), col(valueCol).as("value")))

  /** Equi-depth histogram over any numeric column (graded
    * q_agg_eqdepth's engine, r14): k ~equal-count buckets cut at the
    * exact discrete i∕k percentiles (`Percentiles.disc` integer rank
    * math — zero float in the derivation), strict-compare tie rule.
    * Output: bucket 1..k, n, min_v, max_v. */
  def equiDepth(df: DataFrame, valueCol: String, k: Int = 4): DataFrame =
    graft.queries.Aggregates.eqDepthOn(df, valueCol, k)

  /** Point-in-time SCD2 lookup over arbitrary fact + change-log tables
    * (graded q_event_pit's engine, r14): each fact row takes the
    * attribute active at its instant from the dimension compacted out
    * of the change log (consecutive same-attr entries merge), plus the
    * range start and the attribute's AGE at the fact — point-in-time
    * correctness with no leakage; facts before any change NULL out and
    * survive. Never a range join: one scd2 window pass + one
    * interleaved as-of window pass. Output keeps the graded names
    * (`p_id`, `ctx_attr`, `ctx_from_us`, `ctx_age_us`). */
  def pitLookup(facts: DataFrame, changeLog: DataFrame, keyCol: String,
                factTsCol: String, factIdCol: String,
                logTsCol: String, logIdCol: String,
                attrCol: String): DataFrame =
    graft.queries.EventOps.pitOn(
      facts.select(col(keyCol).as("user_id"),
        col(factIdCol).as("event_id"), col(factTsCol).as("ts")),
      changeLog.select(col(keyCol).as("user_id"),
        col(logIdCol).as("event_id"), col(logTsCol).as("ts"),
        col(attrCol).as("event_type")))

  /** Theil-Sen robust trend over any keyed timestamped stream (graded
    * q_event_trend's engine, r14): per key, the discrete lower-median
    * of all pairwise slopes of the daily-count series — 29%-breakdown
    * robust where OLS chases outliers. Caches its day-grain table —
    * wrap in [[cacheScoped]] to release it. */
  def trendSlope(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    graft.queries.EventOps.trendOn(
      df.select(col(keyCol).as("event_type"), col(tsCol).as("ts")))

  /** Censored Kaplan-Meier survival over any (key, timestamp) activity
    * log (graded q_event_survival_km's engine, r15): keys whose last
    * activity falls on the log's last observed day are right-censored;
    * per distinct lifetime — endings, censored, deaths, at-risk, and
    * the product-limit S(t) as a pinned-order exact-factor fold.
    * `tsCol` must be a timestamp column. */
  def kmSurvival(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    graft.queries.EventOps.survivalKmOn(
      df.select(col(keyCol).as("user_id"), col(tsCol).as("ts")))

  /** Kendall tau-b rank correlation per group over any (group, x, y)
    * frame (graded q_agg_kendall's engine, r15): exact concordant∕
    * discordant weighted pair counts off the JOINT distinct-value
    * cell table — work ∝ ∣domain_x × domain_y∣² per group,
    * SF-invariant, never a row-pair join. Best for discrete∕bucketed
    * columns; continuous columns should be quantized first (e.g.
    * through [[equiDepth]] cuts). Returns (g, n, tau_b); all-tied-x
    * groups drop out, all-tied-y groups carry a NULL tau_b. */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame =
    graft.queries.Aggregates.kendallOn(
      df.select(col(groupCol).as("g"), col(xCol).as("x"),
        col(yCol).as("y")))

  /** Mann-Whitney U two-sample rank test over any (arm, value) frame
    * (graded q_agg_mwu's engine, r15): U for `armA` plus the
    * tie-corrected normal z. Value collapse ∝ distinct values;
    * doubled-avg-rank exact-integer discipline. Returns one row
    * (n_a, n_b, u_stat, z). */
  def mannWhitney(df: DataFrame, armCol: String, valueCol: String,
                  armA: String, armB: String): DataFrame =
    graft.queries.Aggregates.mwuOn(
      df.select(col(armCol).as("arm"), col(valueCol).as("v")),
      armA, armB)

  /** Kruskal-Wallis H over any (group, value) frame with ARBITRARY
    * group count (general-k sibling of the graded 3-flag
    * q_agg_kruskal; see [[graft.queries.Aggregates.kruskalOn]] for
    * why the general form is unit-tested rather than oracle-graded).
    * Returns one row (n_rows, k, h_stat, eps_sq) — H is χ²(k−1) under
    * the null; eps_sq is the ε² effect size. */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame =
    graft.queries.Aggregates.kruskalOn(
      df.select(col(groupCol).as("g"), col(valueCol).as("v")))

  /** Rank-percentile quality-score normalization over any (id, text)
    * corpus (graded q_llm_qnorm's engine): PERCENT_RANK of the
    * distinct-token score, computed bucket-decomposed (no corpus-sized
    * window). */
  def qualityPercentile(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    graft.queries.PipelineOps.qnormOn(asCorpus(df, idCol, textCol))

  /** Resource-Allocation link prediction over any bipartite edge list
    * (graded q_graph_linkpred's engine): top-k (sa, sb) node pairs by
    * hub-discounted shared-neighbor mass Σ 1∕deg(through), with
    * common-neighbor counts. `throughCol` is the shared-neighbor side
    * (parts / items / features), `nodeCol` the projected side. */
  def raLinkPrediction(edges: DataFrame, throughCol: String,
                       nodeCol: String): DataFrame =
    graft.queries.GraphOps.linkpredOn(
      edges.select(col(throughCol).as("p"), col(nodeCol).as("sp")))

  /** Chi-squared independence audit of two categorical columns with
    * Cramér's V (graded q_text_chisq's engine) — the "is my source mix
    * the same in every language" stratification-bias gate. ONE global
    * row: chi2 (6dp), dof, cramers_v (6dp; NULL when dof=0), n_cells,
    * n. The corpus collapses to its contingency cells first (shuffle ∝
    * ∣A∣·∣B∣, KBs at any corpus size). */
  def chiSquared(df: DataFrame, aCol: String, bCol: String): DataFrame =
    graft.operators.Drift.chiSquared(df, aCol, bCol)

  /** Deterministic hash split over any id: engine- and layout-stable
    * bucket in [0, buckets) — never `rand()` (q_llm_split's contract:
    * any row's assignment is computable without a scan). */
  def hashBucket(idCol: Column, buckets: Int): Column =
    Det.md5h32(idCol.cast("string")) % buckets

  /** Deterministic weighted Bernoulli sample over any id/weight pair:
    * keeps a row iff md5h32(id) mod `den` < its integral weight —
    * inclusion probability weight/den (weights ≥ den always keep, NULL
    * weights never; the graded q_llm_wsample plan). Never `rand()`:
    * any row's inclusion is recomputable from its id alone, on any
    * engine, at any layout. Pure map-side filter — no shuffle. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     den: Int): DataFrame =
    graft.queries.PipelineOps.weightedSample(df, idCol, weightCol, den)

  /** Deterministic stratified sample over arbitrary strata: exactly k
    * rows per stratum by md5-hash rank (never `rand()` — reproducible
    * across runs, engines, and layouts; graded through q_llm_sample).
    * The rank filter plans as WindowGroupLimit (pinned in
    * PlanAssertionsSuite): each stratum keeps a k-row heap during the
    * shuffle — no stratum is ever fully sorted, so a billion-row
    * stratum costs O(n) scan + O(k) state, and the output is
    * strata-bounded regardless of corpus size.
    *
    * @return the sampled rows: idCol, strataCols, hash key, rank. */
  def stratifiedSample(df: DataFrame, idCol: String,
                       strataCols: Seq[String], k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(col("hk").asc, col(idCol).asc)
    df.withColumn("hk", Det.md5h32(col(idCol).cast("string")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select((col(idCol) +: strataCols.map(col)) :+ col("hk") :+ col("rk"): _*)
  }

  /** Overlapping token-window chunks over any corpus (the graded
    * q_llm_chunk shape): `chunkSize`-token windows every `stride`
    * tokens, trailing windows short; per-row generator work, no shuffle
    * but the output order.
    *
    * @return (idCol, chunk_id, chunk_len, chunk_md5). */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame =
    graft.queries.PipelineOps.chunk(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        chunkSize, stride)
      .withColumnRenamed("doc_id", idCol)

  /** Greedy sequence packing into fixed token-budget bins over any
    * corpus (the graded q_llm_pack plan): deterministic hash shards ×
    * the caller's stream columns, contiguous exclusive-cumsum bins in
    * id order — ONE hash exchange, integer arithmetic throughout.
    *
    * @return (idCol, streamCols, shard, n_tok, cum_before, bin). */
  def packBins(df: DataFrame, idCol: String, textCol: String,
               streamCols: Seq[String], budget: Int,
               shards: Int): DataFrame =
    graft.queries.PipelineOps.pack(
        df.select((col(idCol).as("doc_id") +: streamCols.map(col)) :+
          col(textCol).as("text"): _*),
        budget, shards, streamCols)
      .withColumnRenamed("doc_id", idCol)

  /** Train/test contamination audit over any corpus (the graded
    * q_llm_contam plan): per test-split doc, the fraction of its
    * distinct 3-gram shingles occurring anywhere in the train split;
    * the train side collapses to its distinct shingle vocabulary first
    * (shuffle ∝ vocabulary) and hot shingles can never expand the
    * probe join. Splits come from [[hashBucket]] over the id. */
  def contamAudit(df: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    graft.queries.PipelineOps.contamAudit(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .withColumnRenamed("doc_id", idCol)

  /** Bloom-prescreened membership screen over any probe/corpus pair —
    * [[graft.operators.ScaleOps.bloomPrefilter]] with the probe side
    * first (the facade's subject-first convention): appends a
    * `might_match` verdict to every row of `df`. False ⇒ the value is
    * DEFINITELY not in `corpus` (no false negatives — admit/drop with
    * no further work); true ⇒ verify exactly (≈ `fpp` of clean rows
    * survive the screen); NULL probe value ⇒ NULL. The corpus collapses
    * to ONE sketch row consumed as a scalar subquery — neither dataset
    * shuffles for the screen. The graded q_llm_bloomscreen is this
    * screen composed with an exact verify join;
    * [[graft.streaming.StreamOps.bloomIngestProbe]] is the streaming
    * (sketch-as-literal) form of the same screen.
    *
    * @param expectedItems corpus-cardinality estimate the sketch is
    *                      sized from (over-estimating wastes bits;
    *                      under-estimating degrades fpp, never
    *                      correctness). Sizing that would hit Spark's
    *                      silent clamp caps fails loudly instead. */
  def bloomScreen(df: DataFrame, probeCol: String,
                  corpus: DataFrame, corpusCol: String,
                  expectedItems: Long, fpp: Double,
                  buildPartitions: Int = 0): DataFrame =
    graft.operators.ScaleOps.bloomPrefilter(corpus, corpusCol,
      df, probeCol, expectedItems, fpp, buildPartitions)

  /** Heavy hitters over any item column — the Misra-Gries sketch of
    * [[graft.operators.HeavyHitters]]: every item with true count
    * > n/(k+1) is GUARANTEED to surface, estimate in [true − floor,
    * true], under ANY partitioning; the shuffle is O(k · partitions)
    * summary rows regardless of input size (an exact groupBy shuffles
    * O(distinct items) — the sketch is the 100-TB path when the
    * vocabulary itself is too large). NULL items are dropped (a NULL
    * occurrence is not an item — the same contract as the token ops).
    *
    * @param k counters per partition summary; the result's `floor`
    *          column reports the n/(k+1) error bound to threshold by.
    * @return (item: string, est_count, floor), est_count descending. */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int): DataFrame =
    graft.operators.HeavyHitters.sketch(
      df.filter(col(itemCol).isNotNull)
        .select(col(itemCol).cast("string")), k)

  /** Sketch-prescreened EXACT top-K most frequent items (the graded
    * q_text_hhwords composition): the Misra-Gries prescreen nominates
    * candidates with an O(k · partitions) shuffle, the exact pass
    * counts candidates only (broadcast semi on the scan — never a
    * vocabulary-sized shuffle), and the result is CERTIFIED exact
    * before it is returned: the MG guarantee surfaces every item with
    * true count > n/(k+1), so the top-K is complete iff the K-th exact
    * count clears that floor — if it does not (k too small for this
    * distribution), this throws rather than silently under-reporting.
    * Runs EAGERLY (the certificate needs the counts; the result is ≤
    * topK rows). NULL items are dropped, as in [[heavyHitters]].
    *
    * @param k counters per partition summary — raise it if the
    *          certificate fails.
    * @return (item: string, n: long) — exact counts, n descending,
    *         item ascending on ties; ≤ topK local rows. */
  def topKFrequent(df: DataFrame, itemCol: String, topK: Int,
                   k: Int): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val spark = df.sparkSession
    import spark.implicits._
    val items = df.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("item"))
    val cand = graft.operators.HeavyHitters.candidates(items, k)
    val top = items
      .join(broadcast(cand.select(col("item"), col("floor"))), Seq("item"))
      .groupBy(col("item"), col("floor")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("item").asc)
      .limit(topK)
      .collect()
    val floor = top.headOption.map(_.getAs[Long]("floor")).getOrElse(0L)
    // floor == 0 ⇒ every item surfaced (count ≥ 1 > 0 ≥ floor), so a
    // short result IS the complete frequency table
    require(floor == 0L ||
      (top.length == topK && top.last.getAs[Long]("n") > floor),
      s"top-$topK not certified: K-th count ${top.lastOption.map(_.getAs[Long]("n"))} " +
        s"does not clear the sketch floor $floor — raise k (=$k)")
    top.map(r => (r.getAs[String]("item"), r.getAs[Long]("n")))
      .toSeq.toDF("item", "n")
  }

  /** Deterministic training-order shuffle over any id column (the
    * graded q_llm_shuffle plan): seeded hash shard + within-shard hash
    * order — one hash exchange + per-partition sort, never a global
    * sort by a random key; placement recomputable from the id alone
    * (resumable, engine-portable, never `rand()`).
    *
    * @param shards parallelism knob — global order is (shard, pos).
    * @return input columns + (shard, ord, pos). */
  def shuffleOrder(df: DataFrame, idCol: String, shards: Int): DataFrame =
    graft.queries.PipelineOps.shuffleOrder(df, idCol, shards)

  /** Product-quantization codebooks + codes for an embedding table —
    * the MEMORY half of the ANN scale story ([[annCandidates]]/ivf
    * bound compute; PQ bounds bytes: dim floats → `m` small codes, so
    * a 100 TB corpus holds codes in memory and never decodes back).
    * Returns (books, codes): train once, encode as a zero-shuffle
    * broadcast map pass. Unit-tested (recall floor, plan shape), not
    * oracle-graded — inherits [[graft.operators.KMeans]]'s float-mean
    * layout caveat like the IVF quantizer knob. */
  def pqIndex(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val vecs = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("e"))
    val books =
      graft.operators.ProductQuantizer.codebooks(vecs, dim, m, k, iters)
    (books, graft.operators.ProductQuantizer.encode(vecs, books, dim, m))
  }

  /** ADC top-k search over [[pqIndex]] codes: each probe precomputes
    * its m×k subspace-distance table against the broadcast codebooks;
    * the corpus scan sums m lookups per (probe, vector) and the rank
    * runs as WindowGroupLimit — codes-only, the corpus is never
    * shuffled or decoded.
    * @return (probe_id, vec_id, rk 1..k, ad2: approx squared L2). */
  def pqSearch(codes: DataFrame, books: DataFrame, probes: DataFrame,
               idCol: String, vecCol: String, dim: Int, m: Int,
               k: Int): DataFrame =
    graft.operators.ProductQuantizer.adcSearch(codes, books,
      probes.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("e")),
      dim, m, k)

  /** Multi-probe sign-LSH approximate nearest neighbors over any
    * embedding table (the graded q_llm_ann plan: sign-bit bucket
    * equi-join + all Hamming-`radius` probe flips — the scale path when
    * the corpus is too large for [[knnExact]]'s full scan per probe).
    *
    * @return (probe_id, rk, neighbor_id, sim 6dp). */
  def annCandidates(df: DataFrame, idCol: String, vecCol: String,
                    probeIds: Seq[Long], bits: Int, radius: Int,
                    k: Int): DataFrame =
    graft.queries.LlmOps.annQueryOn(
      graft.queries.LlmOps.vecBase(df, idCol, vecCol),
      bits, radius, k, _.isin(probeIds: _*))

  /** IVF-flat approximate nearest neighbors over any embedding table
    * (the graded q_llm_ivf plan: bounded coarse quantizer → zero-shuffle
    * per-row assignment → probes search their nprobe nearest inverted
    * lists). Pass [[graft.operators.KMeans.centroids]] output as
    * `centroids` for a trained quantizer; the default is the bounded
    * deterministic stride. */
  def ivfSearch(df: DataFrame, idCol: String, vecCol: String,
                probeIds: Seq[Long], nprobe: Int, k: Int,
                centroids: Option[DataFrame] = None): DataFrame =
    graft.queries.LlmOps.ivfQueryOn(
      graft.queries.LlmOps.vecBase(df, idCol, vecCol),
      nprobe, k, _.isin(probeIds: _*), centroids)

  /** Exact cosine top-k over any embedding table (graded through
    * q_llm_knn — [[graft.queries.LlmOps.knnQueryOn]]): the probe rows
    * broadcast, the corpus is scanned ONCE and never shuffled —
    * per-probe work is one native-codegen dot per corpus row. Ties
    * break to the lower id; self-matches excluded.
    *
    * @param df       (idCol, vecCol) rows; vecCol any numeric array.
    * @param probeIds ids to search for (must be small — they broadcast).
    * @return (probe_id, rk, neighbor_id, sim 6dp), ordered by
    *         (probe_id, rk). */
  def knnExact(df: DataFrame, idCol: String, vecCol: String,
               probeIds: Seq[Long], k: Int): DataFrame =
    graft.queries.LlmOps.knnQueryOn(
        graft.queries.LlmOps.vecBase(df, idCol, vecCol), k,
        _.isin(probeIds: _*))
      .orderBy(col("probe_id"), col("rk"))

  /** Canonicalize an arbitrary undirected edge list: self-loops drop,
    * (a, b)/(b, a) duplicates collapse, output is distinct (a < b). */
  private def canonEdges(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b"))
      .distinct()

  /** Triangle census over any undirected edge list (graded
    * q_graph_triangle's engine, r15): degree-ordered wedge enumeration
    * (Suri & Vassilvitskii 2011 — work ∝ Σ C(outdeg, 2) bounded by the
    * graph's degeneracy, so hubs cost nothing as wedge sources). Input
    * edges are canonicalized (self-loops dropped, duplicates + reverse
    * orientations collapsed). One row: n_nodes, n_edges, n_wedges,
    * n_triangles, transitivity = 3·tri∕wedges (6dp, NULL if no wedge).
    * Caches intermediates — wrap in [[cacheScoped]] to release them. */
  def triangleCensus(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame =
    graft.queries.GraphOps.triangleStatsOn(canonEdges(edges, srcCol, dstCol))

  /** Per-node local clustering coefficient, top-k by triangle count
    * (graded q_graph_localcc's engine, r15): only nodes in ≥ 1 triangle
    * appear; local_cc = 2·triᵥ∕(degᵥ·(degᵥ−1)) at 6dp; total
    * (tri desc, node asc) order makes the k-cut deterministic. */
  def localClustering(edges: DataFrame, srcCol: String, dstCol: String,
                      k: Int = 20): DataFrame =
    graft.queries.GraphOps.localCcOn(canonEdges(edges, srcCol, dstCol), k)

  /** KMV (k-minimum-values) distinct-count sketch per group (graded
    * q_agg_kmv's engine, r15; Bar-Yossef et al. 2002): estimate =
    * (k−1)·2³²∕h₍ₖ₎ off the k smallest engine-portable md5h32 values,
    * EXACT below k; ships the exact count and audited err_pct beside
    * the estimate (the sketch-certificate discipline). At scale the
    * bottom-k plans as WindowGroupLimit — k-bounded shuffle — while
    * the exact audit column is the pass the sketch replaces; drop
    * `n_true`/`err_pct` downstream when running sketch-only. */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int = 256): DataFrame =
    graft.queries.Aggregates.kmvOn(
      df.select(col(groupCol).as("g"), col(valueCol).cast("string").as("v")),
      k)

  /** Hodges-Lehmann pseudo-median per group (graded
    * q_agg_hodgeslehmann's engine, r15): the weighted discrete lower
    * median of all Walsh averages (xᵢ+xⱼ)∕2, i ≤ j — the robust
    * location dual of the Wilcoxon signed-rank (29% breakdown, ~0.955
    * normal efficiency). Work ∝ ∣value domain∣² per group
    * (SF-invariant) — best for discrete∕bucketed columns; quantize
    * continuous ones first (the [[kendallTau]] guidance). Values cast
    * to DECIMAL(18,2). Returns (g, n_pairs, hl). */
  def hodgesLehmann(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame =
    graft.queries.Aggregates.hlOn(
      df.select(col(groupCol).as("g"),
        col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("x")),
      org.apache.spark.sql.types.DecimalType(19, 2))

  /** Wald-Wolfowitz runs test over any ordered (order, value) series
    * (graded q_event_runstest's engine, r15): values dichotomize
    * above∕below their discrete median (median rows drop), R = sign
    * runs in order, z = (R − E[R])∕√Var under the i.i.d. null. One
    * row: (n_used, n_above, n_below, n_runs, z — NULL when a side is
    * empty or the variance degenerates). */
  def runsTest(df: DataFrame, orderCol: String,
               valueCol: String): DataFrame =
    graft.queries.EventOps.runsOn(
      df.select(col(orderCol).as("day"), col(valueCol).as("n")))

  /** Count-min sketch frequency profile (graded q_agg_cms's engine,
    * r15; Cormode & Muthukrishnan 2005): a d×w counter table (ONE
    * map-side-combining agg into d·w cells — bounded state for
    * unbounded key domains) probed for the top-k keys by exact count;
    * ships the exact count and the guaranteed-nonnegative overcount
    * beside the estimate (the sketch-certificate discipline). */
  def cmsFrequency(df: DataFrame, keyCol: String, d: Int = 4,
                   w: Int = 64, topK: Int = 10): DataFrame =
    graft.queries.Aggregates.cmsOn(df.select(col(keyCol).as("k")),
      d, w, topK)

  /** Full k-core decomposition over any undirected edge list (graded
    * q_graph_corenum's engine): per-node core number by ascending-
    * level capped peels — see [[graft.operators.CoreNumber]] for the
    * cap contract. Returns (node, corenum). Runs bounded driver
    * actions per round (the trusspeel pattern). */
  def coreNumbers(edges: DataFrame, srcCol: String, dstCol: String,
                  kMax: Int = 12, rounds: Int = 8): DataFrame =
    graft.operators.CoreNumber.decompose(
      symmetrize(edges, srcCol, dstCol, keepLoops = true), kMax, rounds)

  /** BFS hop-distance histogram from the min-id node over any
    * undirected edge list (graded q_graph_bfs's engine): (dist,
    * n_nodes) within `rounds` hops — see [[graft.operators.Bfs]] for
    * the fixed-unroll contract. Runs bounded driver actions per
    * round. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              rounds: Int = 6): DataFrame =
    graft.operators.Bfs.hops(
      symmetrize(edges, srcCol, dstCol, keepLoops = true), rounds)

  /** AMS F2 (second frequency moment ≡ self-join size) sketch + exact
    * audit over any key column (graded q_agg_ams's engine): one
    * map-side pass into 8 signed sums, exact-integer mean-of-squares
    * estimate, exact Σc² audit, 6dp ratio. One row. */
  def amsF2(df: DataFrame, keyCol: String): DataFrame =
    graft.queries.Aggregates.amsOn(df.select(col(keyCol).as("k")))

  /** Yule's K lexical-richness characteristic per group (graded
    * q_text_yulek's engine): K = 10⁴·(Σ m²·V(m) − N)∕N² off the
    * frequency-of-frequencies collapse; length-stable, unlike TTR.
    * Returns (group, n_tokens, n_types, yule_k). */
  def yuleK(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    graft.queries.TextOps.yulekOn(
        df.select(col(groupCol).as("source"), col(textCol).as("text")))
      .withColumnRenamed("source", groupCol)

  /** Newman modularity Q of a node partition over a ONE-DIRECTIONAL
    * undirected edge list (symmetrized internally; graded
    * q_graph_modularity's engine): the community-quality accept/reject
    * number — Q ≈ 0 means no structure beyond the degree-preserving
    * baseline, the single-community partition scores exactly 0.
    * Returns one row (n_comms, m_edges, q_micro, q_modularity);
    * q_micro is the exact floor-quantized value, the double is one
    * IEEE division of it. See [[graft.queries.GraphOps.modularityWOn]]
    * for the exact-integer determinism contract.
    *
    * Self-loops are DROPPED before symmetrizing (simple-graph
    * convention): union+distinct would otherwise keep a loop as a
    * single directed edge counted once in the volume/in-community
    * sums, which matches neither the standard 2·A_ii adjacency
    * convention nor ignoring it — so we take the unambiguous
    * loop-free semantics (r17 ADVICE). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String,
                 labelCol: String): DataFrame =
    graft.queries.GraphOps.modularityOn(symmetrize(edges, srcCol, dstCol),
      labels.select(col(nodeCol).as("node"), col(labelCol).as("label")))

  /** Per-community conductance φ(c) = cut∕min(vol, vol-complement) for
    * the k largest communities of a partition (graded
    * q_graph_conductance's engine) — the per-community quality number
    * beside [[modularity]]'s global Q. NULL φ for a community with no
    * outside. Returns (label, n_nodes, vol_deg, cut_deg, phi_micro,
    * conductance). Self-loops are DROPPED before symmetrizing — the
    * same simple-graph convention as [[modularity]] (a loop neither
    * cuts nor should count once in volume). */
  def conductance(edges: DataFrame, srcCol: String, dstCol: String,
                  labels: DataFrame, nodeCol: String, labelCol: String,
                  k: Int = 10): DataFrame =
    graft.queries.GraphOps.conductanceOn(symmetrize(edges, srcCol, dstCol),
      labels.select(col(nodeCol).as("node"), col(labelCol).as("label")), k)

  /** Content-defined-chunking dedup audit over any binary payload
    * column (graded q_mm_cdc's engine): rolling-hash chunk boundaries
    * realign across insertion-shifted copies, catching the dups fixed
    * blocks structurally miss. Returns per-kind (n_chunks, n_distinct,
    * n_dups, bytes_dedupable). */
  def cdcDedup(df: DataFrame, payloadCol: String): DataFrame =
    graft.queries.MultimodalOps.cdcDedupOn(
      df.select(col(payloadCol).as("payload")))

  /** One-mode projection with the above-mean affinity cut (graded
    * q_graph_projmod's edge engine): actors sharing more items than
    * the pair-population MEAN become edges — the scale-invariant cut
    * for near-complete projections where any absolute min-shared
    * threshold is corpus-size-dependent. Hub-capped on the item side
    * (an item shared by everyone says nothing about affinity).
    * Returns a symmetrized (src, dst) actor edge list ready for the
    * community/centrality operators. */
  def affinityProjection(df: DataFrame, itemCol: String,
                         actorCol: String): DataFrame =
    graft.queries.GraphOps.projectionEdges(
      df.select(col(itemCol).as("p"), col(actorCol).as("sp")).distinct())

  /** Hapax/dis legomena vocabulary profile per group (graded
    * q_text_hapax's engine): the share of a group's vocabulary seen
    * exactly once — hapax-heavy = open∕noisy vocabulary, hapax-poor =
    * closed boilerplate. Returns (group, n_tokens, n_types, n_hapax,
    * n_dis, hapax_micro, hapax_share). */
  def hapaxProfile(df: DataFrame, groupCol: String,
                   textCol: String): DataFrame =
    graft.queries.TextOps.hapaxOn(
        df.select(col(groupCol).as("source"), col(textCol).as("text")))
      .withColumnRenamed("source", groupCol)

  /** Multi-seed BFS hop histograms over a ONE-DIRECTIONAL undirected
    * edge list (symmetrized internally; graded q_graph_kbfs's engine):
    * per-seed (dist, n_nodes) within `rounds` hops, all seeds relaxed
    * in one plan — see [[graft.operators.Bfs.hopsFrom]] for the
    * fixed-unroll contract. Returns (seed, dist, n_nodes). */
  def kSeedBfs(edges: DataFrame, srcCol: String, dstCol: String,
               seedIds: Seq[Long], rounds: Int = 6): DataFrame = {
    val g = symmetrize(edges, srcCol, dstCol, keepLoops = true)
    graft.operators.Bfs.hopsFrom(g, seedsIn(g, seedIds), rounds)
  }

  /** Truncated harmonic centrality per seed (graded q_graph_harmonic's
    * engine): h(s) = Σ_{v ≠ s, d(s,v) ≤ rounds} 1∕d(s, v) over the
    * [[kSeedBfs]] hop histogram — the DISCONNECTED-SAFE centrality:
    * unreached nodes contribute 0 instead of being dropped, so more
    * reach always scores higher (closeness's reached-component
    * restriction lets a 2-node-island seed score a perfect 1.0 —
    * the rank-flip KCoreSuite pins). Returns (seed, n_reached,
    * harmonic_micro, harmonic); harmonic_micro is the exact
    * per-distance floor-quantized sum Σ_d (n_d·10⁶ div d). */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seedIds: Seq[Long],
                         rounds: Int = 6): DataFrame =
    graft.queries.GraphOps.harmonicFold(
      kSeedBfs(edges, srcCol, dstCol, seedIds, rounds))

  /** Truncated eccentricity per seed (graded q_graph_ecc's engine):
    * ecc(s) = max hop distance within `rounds` over the [[kSeedBfs]]
    * histogram — the worst-case leg of the distance-centrality trio
    * (closeness = mean, harmonic = mean inverse). With unreached
    * nodes the true eccentricity is ≥ the reported value (a lower
    * bound — the truncation contract). All-integer. Returns
    * (seed, n_reached, ecc). */
  def eccentricity(edges: DataFrame, srcCol: String, dstCol: String,
                   seedIds: Seq[Long], rounds: Int = 6): DataFrame =
    graft.queries.GraphOps.eccFold(
      kSeedBfs(edges, srcCol, dstCol, seedIds, rounds))

  /** Weighted closeness over bounded Bellman-Ford affinity distances
    * (graded q_graph_wcloseness's engine): edge cost = 10⁶ div w
    * micro-hops (heavier tie ⟹ cheaper edge — the exact-integer 1∕w
    * transform), distances = minimum cost over ≤ `rounds`-edge paths
    * ([[graft.operators.Bfs.costFrom]]'s bounded-hop contract — a
    * longer-hop cheaper path displaces a settled entry, which hop-BFS
    * cannot express), fold = (reached−1)·10¹² div Σcost. Self-loops
    * dropped; one orientation per pair (or both with identical
    * weights) — the [[modularityWeighted]] contract. Phantom seeds
    * dropped. Returns (seed, n_reached, sum_cost, wclose_micro,
    * wcloseness). */
  def weightedCloseness(edges: DataFrame, srcCol: String, dstCol: String,
                        wCol: String, seedIds: Seq[Long],
                        rounds: Int = 6): DataFrame = {
    val g = graft.queries.GraphOps.costEdges(
      symmetrize(edges, srcCol, dstCol, Some(wCol)))
    graft.queries.GraphOps.wcloseFold(
      graft.operators.Bfs.costFrom(g, seedsIn(g, seedIds), rounds))
  }

  /** Pivot-sampled approximate betweenness (graded
    * q_graph_betweenness's engine): Brandes dependency accumulation
    * from a caller-chosen deterministic pivot set, all pivots in one
    * plan — forward (dist, σ) layers, backward FLOOR-micros
    * dependency folds, both bounded by `rounds` (see
    * [[graft.operators.Betweenness]] for the exact-integer term and
    * the 2·diameter-action scale shape). Seed ids absent from the
    * graph are dropped (the [[kSeedBfs]] convention). Returns the
    * top-`k` (node, bc_micro, bc_est) by (bc_micro desc, node asc);
    * bc_est is the (n∕pivots) extrapolation. */
  def betweennessApprox(edges: DataFrame, srcCol: String, dstCol: String,
                        seedIds: Seq[Long], rounds: Int = 6,
                        k: Int = 20): DataFrame = {
    val g = symmetrize(edges, srcCol, dstCol)
    graft.operators.Betweenness.pivotBetweenness(g, seedsIn(g, seedIds),
      rounds, k)
  }

  /** Pivot-sampled WEIGHTED betweenness (graded
    * q_graph_betweenness_w's engine, r20): σ counted over
    * MINIMAL-COST paths — [[betweennessApprox]]'s brokerage question
    * on [[weightedCloseness]]'s affinity-cost metric. Edge cost =
    * max(1, 10⁶ div w) micro-hops (the 1∕w transform clamped positive:
    * a zero-cost edge would put cycles in the shortest-path DAG; the
    * clamp binds only past 10⁶-weight edges). Three bounded fixpoints
    * — costFrom distances, σ over the minimal-cost DAG, the
    * FLOOR-micros dependency — see [[graft.operators.BetweennessW]];
    * uniform weights reproduce [[betweennessApprox]] exactly.
    * Self-loops dropped; the [[modularityWeighted]] symmetrization
    * contract; phantom seeds dropped. Returns the top-`k`
    * (node, wbc_micro, wbc_est) by (wbc_micro desc, node asc). */
  def betweennessWeighted(edges: DataFrame, srcCol: String,
                          dstCol: String, wCol: String,
                          seedIds: Seq[Long], rounds: Int = 6,
                          k: Int = 20): DataFrame = {
    val g = graft.queries.GraphOps.costEdges(
      symmetrize(edges, srcCol, dstCol, Some(wCol)), clamped = true)
    graft.operators.BetweennessW.pivotBetweennessW(g, seedsIn(g, seedIds),
      rounds, k)
  }

  /** Betweenness pivot-count stability audit over any undirected edge
    * list (graded q_graph_betwsweep's engine, r20): for each pivot
    * count in `ks` (deterministic top-degree seeds, (deg desc, id asc)
    * ranks), the top-`topK` rank overlap vs the LARGEST k — ONE
    * forward+backward sweep at max(ks) serves every k (each estimate
    * is a rank filter over the same dependency table). The empirical
    * answer to "how many pivots does [[betweennessApprox]] need on MY
    * graph". Self-loops dropped. Returns (k_pivots, n_top, n_overlap,
    * overlap_micro, overlap) ordered by k_pivots; the k = max row is
    * the tautological 100% anchor. */
  def betweennessStability(edges: DataFrame, srcCol: String,
                           dstCol: String, ks: Seq[Int] = Seq(4, 8, 16),
                           topK: Int = 20): DataFrame = {
    require(ks.nonEmpty, "ks must be non-empty")
    graft.queries.GraphOps.betwsweepOn(
      symmetrize(edges, srcCol, dstCol), ks, topK)
  }

  /** TWO-LEVEL weighted community refinement (graded q_graph_louvain2's
    * engine, r20; Blondel et al. 2008 phases 1+2): [[refineCommunitiesWeighted]]'s
    * bounded single-node moves, then ONE community contraction (nodes =
    * communities, weights = inter-community sums incl. self-loops) and
    * the same bounded argmax loop on the contracted graph — the move
    * that merges whole communities, which single-node refinement
    * provably cannot; labels project back. Weighted Q never decreases
    * across levels (exact-integer law). Self-loops dropped; the
    * [[modularityWeighted]] symmetrization contract. Returns the
    * projected (nodeCol, labelCol) frame with the caller's names. */
  def refineCommunitiesTwoLevel(edges: DataFrame, srcCol: String,
                                dstCol: String, wCol: String,
                                labels: DataFrame, nodeCol: String,
                                labelCol: String,
                                moves: Int = 6): DataFrame = {
    val (_, l2) = graft.queries.GraphOps.louvain2On(
      symmetrize(edges, srcCol, dstCol, Some(wCol)),
      labels.select(col(nodeCol).as("node"), col(labelCol).as("label")),
      moves)
    l2.select(col("node").as(nodeCol), col("label").as(labelCol))
  }

  /** s-core — WEIGHTED k-core peel (graded q_graph_score's engine,
    * r20): repeatedly drop nodes whose incident weight sum is < `s`
    * (strength cascade; weight-1 reproduces [[kCore]]). Self-loops
    * dropped; the [[modularityWeighted]] symmetrization contract.
    * Returns (node, strength) for the survivors.
    *
    * Default rounds = 6 (r21, ADVICE fix): the graded calibration
    * (GraphOps.ScoreRounds) measured a genuinely 5-round cascade at
    * sf0.1 and chose 6 for margin — the old default of 4 silently
    * truncated deeper cascades on comparable graphs. Callers on graphs
    * that may cascade deeper should raise `rounds` until the peel's
    * early exit triggers (an unchanged round is the fixpoint). */
  def sCore(edges: DataFrame, srcCol: String, dstCol: String,
            wCol: String, s: Long, rounds: Int = 6): DataFrame =
    graft.operators.KCore.peelW(
      symmetrize(edges, srcCol, dstCol, Some(wCol)), s, rounds)

  /** Greedy modularity refinement of a node partition (graded
    * q_graph_refine's engine): up to `moves` exact-integer argmax
    * single-node moves, each provably ΔQ > 0 — Q never decreases.
    * Self-loops dropped before symmetrizing (the [[modularity]]
    * convention). Returns the refined (nodeCol, labelCol) frame with
    * the caller's column names. */
  def refineCommunities(edges: DataFrame, srcCol: String, dstCol: String,
                        labels: DataFrame, nodeCol: String,
                        labelCol: String, moves: Int = 6): DataFrame =
    graft.queries.GraphOps.refineOn(symmetrize(edges, srcCol, dstCol),
        labels.select(col(nodeCol).as("node"), col(labelCol).as("label")),
        moves)
      .select(col("node").as(nodeCol), col("label").as(labelCol))

  /** Weighted Newman modularity over a ONE-DIRECTIONAL undirected edge
    * list carrying an integer weight column (graded
    * q_graph_modularity_w's engine; weight-1 reproduces
    * [[modularity]]). Self-loops dropped before symmetrizing.
    *
    * CALLER CONTRACT (r18 ADVICE): supply each undirected pair ONCE
    * (either orientation), or — if both orientations are present —
    * with the SAME weight; supply parallel edges pre-aggregated to
    * one weight per pair. Symmetrization is `union(reversed)
    * .distinct()`, which collapses exact (src, dst, w) triples only:
    * both orientations with DIFFERING weights, or same-pair rows with
    * different weights, survive as a multigraph and silently skew the
    * volume/in-community sums (the unweighted [[modularity]] facade
    * has no such trap — distinct() fully dedupes orientations there).
    * We do not auto-aggregate: summing would silently double weight-1
    * both-orientation input vs [[modularity]], and max/min would pick
    * an arbitrary winner — an explicit per-pair pre-aggregation by the
    * caller is the only unambiguous semantics.
    * Returns one row (n_comms, w_total, q_micro, q_modularity). */
  def modularityWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                         wCol: String, labels: DataFrame, nodeCol: String,
                         labelCol: String): DataFrame =
    graft.queries.GraphOps.modularityWOn(
      symmetrize(edges, srcCol, dstCol, Some(wCol)),
      labels.select(col(nodeCol).as("node"), col(labelCol).as("label")))

  /** Weighted per-community conductance (graded q_graph_conductance_w's
    * engine; weight-1 reproduces [[conductance]]). Self-loops dropped
    * before symmetrizing. CALLER CONTRACT: one orientation per
    * undirected pair (or both with identical weights), parallel edges
    * pre-aggregated — see [[modularityWeighted]] for why the
    * `union(reversed).distinct()` symmetrization makes inconsistent
    * duplicate weights a silent multigraph, and why we don't
    * auto-aggregate. Returns (label, n_nodes, vol_w, cut_w,
    * phi_micro, conductance) for the k largest communities. */
  def conductanceWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                          wCol: String, labels: DataFrame, nodeCol: String,
                          labelCol: String, k: Int = 10): DataFrame =
    graft.queries.GraphOps.conductanceWOn(
      symmetrize(edges, srcCol, dstCol, Some(wCol)),
      labels.select(col(nodeCol).as("node"), col(labelCol).as("label")), k)
}
