package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Scope, Tables => T}

/** Training-data pipeline operators that sit DOWNSTREAM of dedup/split:
  * contamination audit, deterministic stratified sampling, domain
  * mixture reweighting, incremental-ingest dedup, token-window chunking,
  * sequence packing, TF-IDF term weighting, and within-document
  * repetition scoring (SURVEY §2.10 north star).
  *
  * Common thread: every nondeterministic knob a naive pipeline reaches
  * for (`rand()` sampling, first-come packing, arbitrary split) is
  * replaced by the md5-derived hash of [[Det.md5h32]], so each operator
  * is reproducible across runs, engines, and cluster layouts — the
  * property that keeps a 100 TB corpus auditable across re-ingestions.
  *
  * The helpers take a documents-shaped DataFrame (doc_id, text, lang,
  * source) so unit tests can plant corpora; the graded queries bind them
  * to the parquet tables.
  */
object PipelineOps {
  type Q = (SparkSession, String) => DataFrame
  import Det.tbl

  /** Fixed per-stratum sample size (q_llm_sample) — output is
    * strata-bounded, not corpus-bounded. */
  private[graft] val SampleK = 20

  /** Sequence-packing token budget per bin (q_llm_pack). */
  private[graft] val PackBudget = 256

  /** q_llm_budget: corpus token budget for the quality-ordered greedy
    * selection (≈ 44% of sf0.01's tokens — the cut lands mid-corpus at
    * every graded sf, so both branches of the selection are exercised). */
  private[graft] val BudgetTok = 12000L

  /** Parallel packing shards (q_llm_pack): packing is inherently
    * sequential per stream, so production packs per worker shard; the
    * shard id is itself hash-derived and deterministic. */
  private[graft] val PackShards = 8

  /** The q_profile column set: (column name, SQL cast expression with a
    * `%T` placeholder for the engine's string type — Spark STRING,
    * DuckDB VARCHAR). String-domain profiling is what makes one schema
    * serve every column type deterministically: int→string is exact and
    * its binary (UTF8) MIN/MAX ordering is identical in both engines;
    * doubles go through DECIMAL(18,4) first because double→string
    * formatting is engine-specific while decimal→string is fixed-scale
    * ("4.5000") in both. */
  private[graft] val ProfileCols: Seq[(String, String)] = Seq(
    "l_returnflag" -> "CAST(l_returnflag AS %T)",
    "l_linestatus" -> "CAST(l_linestatus AS %T)",
    "l_orderkey" -> "CAST(l_orderkey AS %T)",
    "l_partkey" -> "CAST(l_partkey AS %T)",
    "l_suppkey" -> "CAST(l_suppkey AS %T)",
    "l_linenumber" -> "CAST(l_linenumber AS %T)",
    "l_quantity" -> "CAST(CAST(l_quantity AS DECIMAL(18,4)) AS %T)")

  /** The q_profile engine over any frame: per column — row count, null
    * count, exact distinct count, lexicographic (binary-collation)
    * min/max of the string-cast values. TWO-LEVEL aggregation: first
    * collapse to ((col, value) → n) — map-side combine bounds the
    * shuffle by Σ per-column distinct values, never n_cols × rows —
    * then fold the per-value counts into the per-column stats. The
    * naive one-level form (COUNT(DISTINCT) over the stacked stream)
    * would Expand and ship every row per column. For columns where
    * distinct ≈ rows (keys) the exact count is inherently row-sized;
    * [[profileApproxOn]] is the 100 TB alternative (HLL sketches,
    * shuffle ∝ n_cols × sketch size). */
  private[graft] def profileOn(df: DataFrame, cols: Seq[(String, String)]): DataFrame = {
    val stackArgs = cols.map { case (n, e) =>
      s"'$n', ${e.replace("%T", "STRING")}" }.mkString(", ")
    df.selectExpr(s"stack(${cols.size}, $stackArgs) AS (col_name, v)")
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("n"))
      .groupBy(col("col_name"))
      .agg(sum(col("n")).as("n_rows"),
        sum(when(col("v").isNull, col("n")).otherwise(0L)).as("n_nulls"),
        count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy(col("col_name"))
  }

  /** The sketch-backed profile for corpora where exact distinct counts
    * are row-sized (key columns at 100 TB): one single-pass hash agg —
    * no per-value collapse, HLL++ (`approx_count_distinct`, rsd 2%)
    * instead of the exact count — so shuffle is n_cols × (sketch +
    * min/max/counters), independent of cardinality. Unit-pinned against
    * [[profileOn]] within HLL error; NOT graded (approximate by
    * design, so no bitwise oracle can exist). */
  private[graft] def profileApproxOn(df: DataFrame, cols: Seq[(String, String)]): DataFrame = {
    val stackArgs = cols.map { case (n, e) =>
      s"'$n', ${e.replace("%T", "STRING")}" }.mkString(", ")
    df.selectExpr(s"stack(${cols.size}, $stackArgs) AS (col_name, v)")
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        approx_count_distinct(col("v"), 0.02).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy(col("col_name"))
  }

  /** q_llm_dsir: hashed-feature buckets / target language / emitted
    * top-k. 1024 buckets is the graded constant; the operator is
    * bucket-count-agnostic (shuffle ∝ buckets in the histogram stages). */
  private[graft] val DsirBuckets = 1024
  private[graft] val DsirTargetLang = "en"
  private[graft] val DsirTopK = 100

  /** Contamination flag threshold (q_llm_contam). */
  private[graft] val ContamThreshold = 0.5

  /** Top terms per doc (q_text_tfidf). */
  private[graft] val TfidfK = 3

  /** Target mixture share per source (q_llm_mix) — uniform across the
    * corpus's sources; any constant map works, the operator's point is
    * the deterministic thinning machinery. */
  private[graft] val MixTargetShare = 0.2

  /** Hash-thinning resolution (q_llm_mix): keep iff
    * md5h32(doc_id) % MixMod < rate · MixMod. */
  private[graft] val MixMod = 1000000L

  /** Token-window chunking (q_llm_chunk): window size / stride. */
  private[graft] val ChunkSize = 64
  private[graft] val ChunkStride = 32

  /** Weighted sampling (q_llm_wsample): weight = token count capped at
    * [[WsCap]], keep iff md5h32(doc_id) % [[WsDen]] < weight — keep
    * probability min(n_tok, cap)/den. */
  private[graft] val WsCap = 100
  private[graft] val WsDen = 200

  /** Build-side cardinality estimate for q_llm_bloomscreen's sketch —
    * a deliberate over-estimate of the corpus's distinct hash count at
    * every graded sf (the bloom formula sizes bits from it; an
    * under-estimate degrades fpp, never correctness — the verify join
    * keeps the RESULT exact either way). */
  private[graft] val BloomScreenItems = 1L << 17
  private[graft] val BloomScreenFpp = 0.01

  /** Training-order shuffle shards (q_llm_shuffle): the parallelism
    * knob — each shard is hash-partitioned then locally sorted, so at
    * 100 TB the shard count scales with the cluster and no shard ever
    * exceeds a spillable sort. */
  private[graft] val ShuffleShards = 16

  /** The q_llm_split bucket — MUST derive exactly as q_llm_split does
    * (same [[Det.md5h32]] over the same cast), or the split and the
    * contamination audit would disagree about train vs test. */
  private def bucketCol: org.apache.spark.sql.Column =
    Det.md5h32(col("doc_id").cast("string")) % 10

  /** Train/test contamination audit: for every TEST-split doc, the
    * fraction of its distinct 3-gram shingles that also occur anywhere
    * in the TRAIN split. Scale design: the train side collapses to its
    * DISTINCT shingle vocabulary first (hash-agg with map-side combine,
    * shuffle ∝ vocabulary, not corpus), so the probe join is
    * test-shingles × a one-row-per-shingle table — a hot shingle matches
    * exactly one row and can never expand the join. No broadcast hint:
    * the vocabulary is corpus-derived, so AQE decides (broadcasts at
    * small sf, shuffle-joins at 100 TB). */
  def contamAudit(docs: DataFrame): DataFrame = {
    val sh = docs.withColumn("bucket", bucketCol)
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("bucket"),
        LlmOps.shinglesCol(col("tk")).as("sh"))
    val trainSh = sh.filter(col("bucket") < 8)
      .select(explode(col("sh")).as("s0")).distinct()
    val testDocs = sh.filter(col("bucket") === 9)
      .select(col("doc_id"), size(col("sh")).as("n_sh"), col("sh"))
    val hits = testDocs
      .select(col("doc_id"), explode(col("sh")).as("s0"))
      .join(trainSh, "s0")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    testDocs.select(col("doc_id"), col("n_sh"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("contam_rate", col("n_hit") / col("n_sh"))
      .withColumn("flagged",
        (col("contam_rate") >= ContamThreshold).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget selection (q_llm_budget): keep documents in quality
    * order (distinct-token count DESC, doc_id ASC) until a corpus token
    * budget is spent — the "fill the training mix from the top" step
    * between scoring and packing. Semantics: kept ⇔ the running token
    * total up to and including the doc (over the GLOBAL quality order)
    * is ≤ budget — i.e. a plain ordered cumulative sum, which is
    * exactly what the oracle runs.
    *
    * Scale shape — the naive global-window cumsum would sort the whole
    * corpus into ONE partition; instead the selection decomposes by
    * quality BUCKET: (1) one map-side-combining hash agg to per-quality
    * token totals (quality values are bounded by max doc length — tens
    * of distinct values at any corpus size), (2) an ordered cumsum over
    * that bucket-sized table (single-partition window over ≤ dozens of
    * rows — provably bounded, the q_text_chisq precedent), (3) a
    * broadcast join-back: buckets fully inside the budget keep
    * everything, buckets fully outside drop everything, and ONLY the
    * one straddling bucket runs a within-bucket cumsum window (its
    * partition is that bucket's docs — the exact-selection boundary
    * cost any engine pays). Integer arithmetic end-to-end. */
  def budgetSelect(docs: DataFrame, budget: Long): DataFrame = {
    val tk = split(col("text"), " ")
    val d = docs.select(col("doc_id"),
      size(tk).cast("long").as("n_tok"),
      size(array_distinct(tk)).as("quality"))
    val wb = Window.orderBy(col("qb").desc)
    val buckets = d.groupBy(col("quality").as("qb"))
      .agg(sum(col("n_tok")).as("btok"))
      .withColumn("cum_end", sum(col("btok")).over(wb))
      .withColumn("cum_start", col("cum_end") - col("btok"))
      .select(col("qb"), col("cum_start"), col("cum_end"))
    val j = d.join(broadcast(buckets), col("quality") === col("qb"))
    val out = Seq(col("doc_id"), col("quality"), col("n_tok"))
    val full = j.filter(col("cum_end") <= budget)
      .select(out :+ lit(1).as("kept"): _*)
    val none = j.filter(col("cum_start") >= budget)
      .select(out :+ lit(0).as("kept"): _*)
    val wIn = Window.partitionBy(col("qb")).orderBy(col("doc_id").asc)
    val boundary = j
      .filter(col("cum_start") < budget && col("cum_end") > budget)
      .withColumn("cum_in", sum(col("n_tok")).over(wIn))
      .select(out :+
        ((col("cum_start") + col("cum_in")) <= budget).cast("int").as("kept"): _*)
    full.union(none).union(boundary).orderBy(col("doc_id"))
  }

  /** Sequence packing: assign docs to fixed-token-budget training bins.
    * Packing is inherently sequential per stream, so (as in production
    * pipelines) the corpus is first split into deterministic hash
    * shards, each packed independently in doc_id order: a doc's bin is
    * the bin where its first token lands (contiguous greedy packing,
    * exclusive running sum). Everything is integer window arithmetic —
    * bit-identical across engines. The only shuffle is the window's
    * hash partition by (lang, shard); shard fan-out bounds that window's
    * partition skew by corpus/|lang×shards|. */
  def pack(docs: DataFrame, budget: Int, shards: Int,
           streamCols: Seq[String] = Seq("lang")): DataFrame = {
    val w = Window.partitionBy(streamCols.map(col) :+ col("shard"): _*)
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("shard",
        Det.md5h32(col("doc_id").cast("string")) % shards)
      .withColumn("cum_before",
        coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / lit(budget)))
      .select((col("doc_id") +: streamCols.map(col)) :+ col("shard") :+
        col("n_tok") :+ col("cum_before") :+ col("bin"): _*)
      .orderBy(col("doc_id"))
  }

  /** Within-document repetition: 1 − (distinct shingles / total
    * shingles) — the boilerplate/template-text signal every corpus
    * quality filter computes. Pure per-row map work over the scan (no
    * shuffle but the output sort); integer counts + one exact IEEE
    * division, so both engines agree bit-for-bit. */
  def repScore(docs: DataFrame): DataFrame = {
    val tk = split(col("text"), " ")
    docs
      .filter(size(tk) >= 3)
      .select(col("doc_id"),
        (size(tk) - 2).as("n_sh"),
        size(LlmOps.shinglesCol(tk)).as("n_uniq"))
      .withColumn("rep_ratio",
        (col("n_sh") - col("n_uniq")) / col("n_sh"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-relative term weighting: top-k terms per doc by TF-IDF,
    * where tfidf = (tf / doc_len) · (n_docs / df). Deliberately NOT the
    * ln() formulation: libm's log is not guaranteed correctly rounded
    * and may differ between engines, while this form is two exact-int
    * IEEE divisions and one multiply — bit-identical everywhere.
    * Scale: tf is a map-side-combining hash-agg keyed (doc_id, term)
    * (shuffle ∝ corpus tokens); df aggregates the tf table per term
    * (∝ vocabulary); the df join-back is one-row-per-term so hot terms
    * never expand; n_docs is a genuine 1-row scalar (broadcast by
    * construction); the top-k rank filter plans as WindowGroupLimit
    * (O(k) state per doc, plan-pinned). */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val tok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("doc_len"),
      explode(split(col("text"), " ")).as("term"))
    // Two consumers (the df derivation and the join below) — without
    // materialization Catalyst prunes their columns differently, the
    // canonical subtrees diverge, exchange reuse never fires, and the
    // corpus is scanned + shuffled twice (read in PLANS.md r6).
    val tf = Scope.eager(tok.groupBy(col("doc_id"), col("term"))
      .agg(max(col("doc_len")).as("doc_len"), count(lit(1)).as("tf")))
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfTab, "term").crossJoin(n)
      .withColumn("tfidf",
        (col("tf") / col("doc_len")) * (col("n_docs") / col("df")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Domain mixture reweighting: per-source doc counts vs a target mix
    * share, the downsampling rate that hits the target, and the exact
    * count a deterministic hash-thinning pass would keep. The keep
    * decision is per-doc local (hash < rate · MixMod — reproducible,
    * resumable, no rand()), so at 100 TB the thinning itself is a
    * scan-only filter; this operator reports the plan. Shuffles: one
    * per-source hash-agg (map-side combining) + a source-keyed join-back
    * of a sources-sized rate table (AQE broadcasts it). */
  def mixPlan(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val total = docs.select(count(lit(1)).as("n_total"))
    val rates = counts.crossJoin(total)
      .withColumn("share", col("n_docs") / col("n_total"))
      .withColumn("rate",
        least(lit(1.0), lit(MixTargetShare) * col("n_total") / col("n_docs")))
    val kept = docs
      .withColumn("hk", Det.md5h32(col("doc_id").cast("string")) % MixMod)
      .join(rates.select(col("source"), col("rate").as("r0")), "source")
      .withColumn("keep", (col("hk") < col("r0") * MixMod).cast("int"))
      .groupBy(col("source")).agg(sum(col("keep")).as("n_kept"))
    rates.join(kept, "source")
      .select(col("source"), col("n_docs"), col("share"), col("rate"),
        col("n_kept"))
      .orderBy(col("source"))
  }

  /** Incremental ingestion dedup: the docs of an incoming batch (split
    * bucket ∈ {8, 9} — any deterministic batch predicate works) checked
    * against the EXISTING corpus (bucket < 8) by exact content hash.
    * Emits every batch doc with its dup flag — the admit/drop decision
    * of a production ingest tier. Scale: the corpus side collapses to
    * its DISTINCT md5 set (shuffle ∝ distinct contents), the probe is a
    * one-row-per-hash left join (no expansion possible), and the
    * incoming batch is typically orders of magnitude smaller than the
    * corpus — exactly the asymmetry this plan exploits (AQE broadcasts
    * whichever side is small). */
  def ingestDedup(docs: DataFrame): DataFrame = {
    val withB = docs.withColumn("bucket", bucketCol)
      .withColumn("h", md5(col("text")))
    val corpusH = withB.filter(col("bucket") < 8)
      .select(col("h").as("h0")).distinct()
    withB.filter(col("bucket") >= 8)
      .select(col("doc_id"), col("h"))
      .join(corpusH, col("h") === col("h0"), "left")
      .withColumn("is_dup", col("h0").isNotNull.cast("int"))
      .select(col("doc_id"), col("h"), col("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Token-window chunking: each doc exploded into overlapping
    * `size`-token windows at `stride`-token steps (starts 1, 1+stride, …
    * up to the last start ≤ n_tok; trailing windows may be short) — the
    * context-window prep step between cleaning and packing. Chunks are
    * emitted as (len, md5-of-joined-tokens) rather than text so the
    * graded output stays narrow. Pure per-row map + generator work over
    * the scan — no shuffle but the output sort; both engines slice with
    * the same clamp semantics (Spark `slice`, DuckDB `list_slice`). */
  def chunk(docs: DataFrame, size0: Int, stride: Int): DataFrame = {
    val tk = split(col("text"), " ")
    docs.select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), size(col("tk")), lit(stride)),
          s0 => slice(col("tk"), s0, lit(size0)))).as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("chunk_len"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Deterministic weighted Bernoulli keep-filter: a row survives iff
    * md5h32(id) mod `den` < its integral weight — inclusion probability
    * weight/den (weights ≥ den always keep; NULL weights never). The
    * same never-`rand()` contract as the split/sample ops: any row's
    * inclusion is recomputable from its id alone, on any engine, at any
    * layout — a resumable 100-TB pipeline can re-derive its own sample.
    * Pure map-side filter; no shuffle, no state, pushes below wider
    * plans. */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
                     den: Int): DataFrame = {
    require(den > 0, s"sampling denominator must be positive: $den")
    docs.filter(graft.Det.md5h32(col(idCol).cast("string")) % den <
      coalesce(col(weightCol).cast("long"), lit(0L)))
  }

  /** Deterministic training-order shuffle (q_llm_shuffle): the global
    * randomized example order every training run needs, produced the
    * way a 100 TB pipeline must — never a single global sort by a
    * random key. Each row gets a seeded hash SHARD (hash partition)
    * and a position within its shard (row_number over a second,
    * independently-salted hash; id tiebreak) — the global order is
    * (shard, pos), the exact Exchange + per-partition-Sort shape of a
    * distributed shuffle, with [[ShuffleShards]] as the parallelism
    * knob. Same never-`rand()` contract as split/sample/wsample: any
    * row's placement is recomputable from its id alone, on any engine,
    * at any layout — a resumed run re-derives the identical order, and
    * an epoch-e reshuffle is one seed change ("shuf:e:" salt). One
    * hash exchange + in-partition sort; no global sort, no window over
    * an unpartitioned frame. */
  def shuffleOrder(docs: DataFrame, idCol: String, shards: Int): DataFrame = {
    require(shards > 0, s"shard count must be positive: $shards")
    val idS = col(idCol).cast("string")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord").asc, col(idCol).asc)
    docs
      .withColumn("shard", Det.md5h32(concat(lit("shuf:"), idS)) % shards)
      .withColumn("ord", Det.md5h32(concat(lit("ord:"), idS)))
      .withColumn("pos", row_number().over(w))
  }

  /** Bloom-prescreened incremental-ingest dedup (q_llm_bloomscreen):
    * the SAME admit/drop decision as [[ingestDedup]], produced through
    * the 100-TB screen. The corpus's distinct content hashes collapse
    * to ONE Bloom sketch row
    * ([[graft.operators.ScaleOps.bloomPrefilter]] — a scalar subquery;
    * neither dataset shuffles for the screen), every definite-false
    * probe ships is_dup=0 with NO join at all (the no-false-negatives
    * contract makes that sound), and only the fpp-sized surviving
    * fraction pays the exact verify join — where bloom false positives
    * die. Result-identical to the plain membership join, which is
    * exactly what the oracle runs (the q_join_skew precedent:
    * engine-specific plan, plain-join semantics). At 100 TB this turns
    * a corpus×batch membership join into sketch-build + map-side scan +
    * a verify join over ~fpp of the batch. */
  def bloomScreenDedup(docs: DataFrame): DataFrame = {
    val withB = docs.withColumn("bucket", bucketCol)
      .withColumn("h", md5(col("text")))
    // RAW corpus hashes — the sketch aggregate absorbs duplicates, and
    // the verify below dedups only the FOUND set, so the corpus-wide
    // distinct() shuffle the plain ingestDedup pays never happens here
    val corpusH = withB.filter(col("bucket") < 8).select(col("h").as("h0"))
    val batch = withB.filter(col("bucket") >= 8)
      .select(col("doc_id"), col("h"))
    val screened = graft.operators.ScaleOps.bloomPrefilter(
      corpusH, "h0", batch, "h", BloomScreenItems, BloomScreenFpp)
    // NULL-content probes get might_match=NULL: they land in the
    // cleared branch (a null hash equals nothing, so non-dup is the
    // plain join's answer for them too)
    val cleared = screened
      .filter(!coalesce(col("might_match"), lit(false)))
      .select(col("doc_id"), col("h"), lit(0).as("is_dup"))
    val survivors = screened
      .filter(coalesce(col("might_match"), lit(false)))
      .select(col("doc_id"), col("h"))
    // Verify orientation (r10, measured via ScaleRehearsal's
    // shuffle-bytes probes): survivors sit on the broadcast-ELIGIBLE
    // side of both joins. A LeftOuter(survivors, corpus) — the r9 form
    // — can only build RIGHT, so the corpus had to shuffle no matter
    // how few survivors the screen left. Inner(corpus, survivors) lets
    // AQE broadcast the survivors whenever the screen did its job
    // (the low-dup-rate ingest regime: survivors ≈ dups + fpp·batch),
    // and then the corpus is scan-only end to end — no shuffle, no
    // corpus-wide distinct; the found-hash set (≤ survivors) dedups
    // instead. When a high-dup batch leaves survivors too big to
    // broadcast, AQE falls back to the shuffle join gracefully.
    val found = corpusH
      .join(survivors.select(col("h").as("hs")), col("h0") === col("hs"))
      .select(col("hs").as("hf")).distinct()
    val verified = survivors
      .join(found, col("h") === col("hf"), "left")
      .select(col("doc_id"), col("h"),
        col("hf").isNotNull.cast("int").as("is_dup"))
    verified.unionByName(cleared).orderBy(col("doc_id"))
  }

  /** End-to-end pipeline composition (q_llm_pipeline): split → exact
    * dedup keep-filter → sequence packing, chained as one lazy plan —
    * the minimal real training-data pipeline, graded to prove the
    * stages compose under the hash gate (each stage alone already has a
    * green twin). Stage plans are the graded ones unchanged: the split
    * is the q_llm_split bucket filter (pure map), the keep-filter is
    * q_llm_dedup's agg + join-back (keeper = min doc_id per content
    * hash; shuffle ∝ distinct contents — never a window), and the pack
    * stage is [[pack]] verbatim (one hash exchange). Composing adds NO
    * new shuffle beyond the stages' own. */
  /** q_llm_dsir's engine over any (doc_id, lang, text) corpus —
    * extracted (r13) so ScaleRehearsal drives the EXACT graded path.
    * See the registration comment for the integer-exact scoring story
    * (arXiv:2302.03169 with the log-ratio replaced by the monotone
    * integer cross-product). */
  private[graft] def dsirOn(docs: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    // 3 consumers (cr, ct+tot, score)
    val sh = Scope.eager(docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(LlmOps.shinglesCol(col("tk"))).as("s0"))
      .select(col("doc_id"), col("lang"),
        (Det.md5h32(col("s0")) % DsirBuckets).as("bkt")))
    val cr = sh.groupBy(col("bkt")).agg(count(lit(1)).as("cr"))
    val ct = sh.filter(col("lang") === DsirTargetLang)
      .groupBy(col("bkt")).agg(count(lit(1)).as("ct"))
    val tot = sh.agg(
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("nt"),
      count(lit(1)).as("nr"))
    val w = cr.join(ct, Seq("bkt"), "left").crossJoin(broadcast(tot))
      .select(col("bkt"),
        (coalesce(col("ct"), lit(0L)).cast(dec) * col("nr").cast(dec)
          - col("cr").cast(dec) * col("nt").cast(dec)).as("wgt"))
    sh.join(broadcast(w), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), sum(col("wgt")).as("sraw"))
      .select(col("doc_id"), col("n_sh"),
        col("sraw").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(DsirTopK)
  }

  def pipeline(docs: DataFrame): DataFrame = {
    val withB = docs.withColumn("bucket", bucketCol)
      .withColumn("h", md5(col("text")))
    val train = withB.filter(col("bucket") < 8)
    val keepers = train.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val kept = train.join(keepers, train("doc_id") === keepers("keep_id"))
      .select(train("doc_id"), col("lang"), col("text"))
    pack(kept, PackBudget, PackShards)
  }

  val queries: Map[String, Q] = Map(
    // Data-quality profiler (r12): the audit every ingest runs first —
    // per column of the fact table: rows, nulls, exact distinct count,
    // binary-collation min/max over the string-cast domain. See
    // [[profileOn]] for the two-level shuffle bound and [[ProfileCols]]
    // for why profiling happens in the string domain.
    "q_profile" -> ((s, d) => profileOn(T.lineitem(s, d), ProfileCols)),
    // DSIR-style importance weighting (r12; Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling" — public
    // arXiv:2302.03169): score each document by how much its hashed
    // n-gram features look like the TARGET distribution (lang = en)
    // relative to the RAW corpus. The paper's per-feature log-ratio
    // log(p_t/p_r) is replaced by the exact integer cross-product
    // ct·Nr − cr·Nt (same sign, same zero point: positive iff the
    // bucket is over-represented in the target) because log() is a
    // libm call with no cross-engine bit guarantee (§7.4) — the
    // monotone-integer substitution is this file's md5-for-rand()
    // discipline applied to the scoring function. Arithmetic is
    // DECIMAL(38,0)/HUGEINT so the cross-products cannot overflow at
    // any corpus size (ct·Nr ≤ Nt·Nr ~ 1e24 at 100 TB ≪ 1e38).
    // Plan: one shingle explode (∝ shingles, persisted for its 3
    // consumers) → two B-bounded histogram aggs (map-side combine
    // collapses each task to ≤B rows) + one broadcast 1-row total →
    // per-doc score = broadcast join of the B-row weight table back
    // onto the shingle stream + doc-keyed agg (shuffle ∝ docs) →
    // global top-k as TakeOrdered. Never a corpus-sized shuffle.
    "q_llm_dsir" -> ((s, d) => dsirOn(T.documents(s, d))),
    // §2.10 weighted sampling (r9): keep probability ∝ capped token
    // count — longer docs oversampled, the curriculum/quality-weighting
    // primitive. Integer hash-vs-weight comparison only (no floats to
    // drift); the token-count twin is the q_text_tokens precedent.
    "q_llm_wsample" -> ((s, d) =>
      weightedSample(
        T.documents(s, d).select(col("doc_id"), col("lang"),
          least(size(split(col("text"), " ")), lit(WsCap)).cast("long").as("w")),
        "doc_id", "w", WsDen)
        .orderBy(col("doc_id"))),
    // §2.10 split-drift audit (r10): two-sample KS of the doc-length
    // distribution between the train (bucket < 8) and holdout sides of
    // THE q_llm_split hash split, per language — the QA gate that
    // catches a biased split before training does. Scale shape: the
    // corpus collapses to distinct (lang, length) pairs first (shuffle
    // ∝ the length domain, not rows); counts stay integer end-to-end;
    // the CDF gap is two IEEE divisions + one subtraction, shipped
    // UNROUNDED (deterministic primitives — §7.4 without rounding).
    "q_llm_ksdrift" -> ((s, d) =>
      graft.operators.Drift.ksDrift(
          T.documents(s, d).select(col("lang"), col("n_chars"),
            (bucketCol < 8).as("is_train")),
          Seq("lang"), "n_chars", col("is_train"))
        .orderBy(col("lang"))),
    // §2.10 split-drift EMD (r10): the 1-D Wasserstein companion to
    // q_llm_ksdrift — total probability-mass × distance between the
    // split sides' length distributions (KS flags the worst point; EMD
    // sizes the whole shift). The sum is EXACT integer arithmetic
    // carried in decimal (order-free — a float sum would be
    // layout-dependent); the one float division is rounded at 6dp.
    "q_llm_emddrift" -> ((s, d) =>
      graft.operators.Drift.emdDrift(
          T.documents(s, d).select(col("lang"), col("n_chars"),
            (bucketCol < 8).as("is_train")),
          Seq("lang"), "n_chars", col("is_train"))
        .orderBy(col("lang"))),
    // §2.10 split-drift TV (r11): total-variation distance between the
    // split sides' length distributions — the half-L1 pmf gap, the
    // "a classifier distinguishes the splits with advantage ≤ tv"
    // bound. Cheapest of the drift family: distinct-value collapse then
    // ONE more map-side agg, no cumulative window at all. The sum is
    // exact integer arithmetic in decimal (order-free); the one float
    // division is rounded at 6dp (the q_llm_emddrift discipline).
    "q_llm_tvdrift" -> ((s, d) =>
      graft.operators.Drift.tvDrift(
          T.documents(s, d).select(col("lang"), col("n_chars"),
            (bucketCol < 8).as("is_train")),
          Seq("lang"), "n_chars", col("is_train"))
        .orderBy(col("lang"))),
    "q_llm_chunk" -> ((s, d) =>
      chunk(T.documents(s, d), ChunkSize, ChunkStride)),
    "q_llm_contam" -> ((s, d) => contamAudit(T.documents(s, d))),
    "q_llm_sample" -> ((s, d) =>
      graft.Graft.stratifiedSample(T.documents(s, d), "doc_id",
        Seq("lang", "source"), SampleK).orderBy(col("doc_id"))),
    // §2.10 quality-ordered token-budget selection (r12) — see
    // [[budgetSelect]] for the bucket-decomposed scale shape (the
    // oracle runs the equivalent naive global-window cumsum).
    "q_llm_budget" -> ((s, d) => budgetSelect(T.documents(s, d), BudgetTok)),
    "q_llm_pack" -> ((s, d) => pack(T.documents(s, d), PackBudget, PackShards)),
    // Packing-efficiency audit — the QA composition over [[pack]]: per
    // (lang, shard) stream, bins used, docs, total tokens, and the mean
    // bin fill ratio vs the token budget (the number a training-data
    // team watches to size the budget). bins are 0-based contiguous by
    // construction, so n_bins = max(bin)+1; fill_ratio is ONE IEEE
    // division of exact int64s — ships unrounded per §7.4. Adds one
    // map-side-combining hash agg (shuffle ∝ lang × shards) on top of
    // pack's single window exchange.
    "q_llm_packeff" -> ((s, d) =>
      pack(T.documents(s, d), PackBudget, PackShards)
        .groupBy(col("lang"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tok"),
          (max(col("bin")) + 1).as("n_bins"))
        .withColumn("fill_ratio",
          col("total_tok") / (col("n_bins") * lit(PackBudget)))
        .orderBy(col("lang"), col("shard"))),
    "q_text_rep" -> ((s, d) => repScore(T.documents(s, d))),
    "q_text_tfidf" -> ((s, d) => tfidfTopTerms(
      // spread (r22): the tokenize explode is a CPU-heavy per-row map
      // and the corpus parquet is single-row-group (ProfJobs: 1.15 s
      // on one task); identity on any wide scan
      graft.Graft.spreadNarrowScan(T.documents(s, d)), TfidfK)),
    "q_llm_mix" -> ((s, d) => mixPlan(T.documents(s, d))),
    "q_llm_ingest" -> ((s, d) => ingestDedup(T.documents(s, d))),
    // §2.4/§2.10 bloom-prescreen composition (r10): graded against the
    // PLAIN membership join — the sketch is engine machinery, the
    // semantics are exact (q_join_skew precedent)
    "q_llm_bloomscreen" -> ((s, d) => bloomScreenDedup(T.documents(s, d))),
    // §2.10 end-to-end composition (r10): split → dedup → pack as one
    // plan, twin assembled from the SAME stage CTEs the single-stage
    // twins use
    "q_llm_pipeline" -> ((s, d) => pipeline(T.documents(s, d))),
    // §2.10 deterministic training-order shuffle (r10)
    "q_llm_shuffle" -> ((s, d) =>
      shuffleOrder(T.documents(s, d).select(col("doc_id")),
        "doc_id", ShuffleShards)
        .select(col("doc_id"), col("shard"), col("ord"), col("pos"))
        .orderBy(col("doc_id"))),
    // §2.10 rank-percentile score normalization (r12)
    "q_llm_qnorm" -> ((s, d) => qnormOn(T.documents(s, d))))

  /** Rank-percentile score normalization (q_llm_qnorm): map each doc's
    * quality signal (distinct-token count — budgetSelect's score) onto
    * [0, 1] as SQL PERCENT_RANK — (rank − 1)∕(n − 1), ties sharing the
    * min rank — the step that puts heterogeneous quality signals on ONE
    * scale before mixing/reweighting composes them.
    *
    * Scale shape: the naive form is a corpus-total-order window (one
    * partition at any size). Instead rank − 1 = #docs with a STRICTLY
    * lower score = the cumulative count of lower score buckets:
    * (1) hash agg to (score, cnt) buckets (∝ distinct scores, bounded
    * by max doc length), (2) ordered cumsum + total over the
    * bucket-sized table (single-partition windows over an AGGREGATE —
    * §7.4.12), (3) broadcast join-back; pure map after. pr =
    * below∕(n−1) is ONE IEEE division of exact ints, shipped UNROUNDED
    * (§7.4.7 — the cume_dist/percent_rank rule); a 1-doc corpus → NULL
    * structurally on both engines. Native-percent_rank equivalence
    * (incl. ties) pinned in-unit. */
  def qnormOn(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      size(array_distinct(split(col("text"), " "))).as("score"))
    val wb = Window.orderBy(col("score").asc)
    val buckets = d.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
      .withColumn("below", coalesce(sum(col("cnt"))
        .over(wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(
        wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    d.join(broadcast(buckets), Seq("score"))
      .select(col("doc_id"), col("score"),
        when(col("n") > 1, col("below") / (col("n") - 1)).as("pr"))
      .orderBy(col("doc_id"))
  }

  private val doc = tbl("documents")

  /** Shared core of the q_llm_pack twin (no ORDER BY) — also the input
    * CTE of the q_llm_packeff audit and the pack STAGE of the
    * q_llm_pipeline composition, parameterized by the source relation
    * so every consumer reuses the same text verbatim (twin drift across
    * the pack family is structurally impossible). */
  private def packCoreSqlOn(src: String): String =
    s"""SELECT doc_id, lang, shard, n_tok, cum_before,
            CAST(FLOOR(cum_before / $PackBudget) AS BIGINT) AS bin
          FROM (
            SELECT doc_id, lang, shard, n_tok,
              COALESCE(CAST(SUM(n_tok) OVER (
                PARTITION BY lang, shard ORDER BY doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                0) AS cum_before
            FROM (SELECT doc_id, lang,
                    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % $PackShards AS shard
                  FROM $src) t) w"""

  private def packCoreSql = packCoreSqlOn(doc)

  /** The split CTE is textually the q_llm_split bucket derivation. */
  private val bucketSql =
    s"""SELECT doc_id,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS bucket,
          string_split(text, ' ') AS tk
        FROM $doc"""

  val oracle: Map[String, String] = Map(
    // Generated from the SAME ProfileCols list (lockstep by
    // construction); VARCHAR where Spark says STRING, SUMs cast back
    // from DuckDB's HUGEINT (the q_seq_gap precedent).
    "q_profile" -> {
      val branches = ProfileCols.map { case (n, e) =>
        s"SELECT '$n' AS col_name, ${e.replace("%T", "VARCHAR")} AS v FROM ${tbl("lineitem")}"
      }.mkString("\n          UNION ALL ")
      s"""WITH s AS (
            $branches),
          g AS (SELECT col_name, v, COUNT(*) AS n FROM s GROUP BY 1, 2)
          SELECT col_name,
            CAST(SUM(n) AS BIGINT) AS n_rows,
            CAST(SUM(CASE WHEN v IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_nulls,
            COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS n_distinct,
            MIN(v) AS min_v, MAX(v) AS max_v
          FROM g GROUP BY col_name ORDER BY col_name"""
    },
    // Same integer cross-product program; SUM over BIGINT promotes to
    // HUGEINT (the DECIMAL(38,0) twin), final CAST AS DOUBLE is the one
    // correctly-rounded conversion both engines share.
    "q_llm_dsir" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
                     FROM $doc),
          b AS (SELECT doc_id, lang,
                  ('0x' || substr(md5(s0), 1, 8))::BIGINT % $DsirBuckets AS bkt
                FROM (SELECT doc_id, lang, UNNEST(${LlmOps.shingleSql}) AS s0
                      FROM t WHERE len(tk) >= 3) sh),
          cr AS (SELECT bkt, COUNT(*) AS cr FROM b GROUP BY bkt),
          ct AS (SELECT bkt, COUNT(*) AS ct FROM b
                 WHERE lang = '$DsirTargetLang' GROUP BY bkt),
          tot AS (SELECT
                    SUM(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS nt,
                    COUNT(*) AS nr
                  FROM b),
          w AS (SELECT cr.bkt,
                  COALESCE(ct.ct, 0) * tot.nr - cr.cr * tot.nt AS wgt
                FROM cr LEFT JOIN ct ON cr.bkt = ct.bkt CROSS JOIN tot)
          SELECT b.doc_id, COUNT(*) AS n_sh,
            CAST(SUM(w.wgt) AS DOUBLE) AS score
          FROM b JOIN w ON b.bkt = w.bkt
          GROUP BY b.doc_id
          ORDER BY score DESC, doc_id ASC LIMIT $DsirTopK""",
    // chunk_id: Spark posexplode yields INT positions; DuckDB's //
    // yields BIGINT → cast. list_slice's inclusive-end clamp matches
    // Spark slice(start, length)'s length clamp.
    "q_llm_chunk" ->
      s"""SELECT doc_id, CAST((st - 1) // $ChunkStride AS INTEGER) AS chunk_id,
            CAST(len(chunk) AS INTEGER) AS chunk_len,
            md5(array_to_string(chunk, ' ')) AS chunk_md5
          FROM (
            SELECT doc_id, st,
              list_slice(tk, st, st + ${ChunkSize - 1}) AS chunk
            FROM (SELECT doc_id, tk,
                    UNNEST(range(1, len(tk) + 1, $ChunkStride)) AS st
                  FROM (SELECT doc_id, string_split(text, ' ') AS tk
                        FROM $doc) t) s)
          ORDER BY doc_id, chunk_id""",
    "q_llm_contam" ->
      s"""WITH b AS ($bucketSql),
          sh AS (SELECT doc_id, bucket, ${LlmOps.shingleSql} AS sh
                 FROM b WHERE len(tk) >= 3),
          train AS (SELECT DISTINCT UNNEST(sh) AS s0 FROM sh WHERE bucket < 8),
          test AS (SELECT doc_id, CAST(len(sh) AS INTEGER) AS n_sh, sh
                   FROM sh WHERE bucket = 9),
          tsh AS (SELECT doc_id, UNNEST(sh) AS s0 FROM test),
          hits AS (SELECT tsh.doc_id, COUNT(*) AS n_hit
                   FROM tsh JOIN train USING (s0) GROUP BY tsh.doc_id)
          SELECT test.doc_id, n_sh,
            COALESCE(n_hit, 0) AS n_hit,
            COALESCE(n_hit, 0) / n_sh AS contam_rate,
            CAST(COALESCE(n_hit, 0) / n_sh >= $ContamThreshold AS INTEGER) AS flagged
          FROM test LEFT JOIN hits ON test.doc_id = hits.doc_id
          ORDER BY test.doc_id""",
    "q_llm_wsample" ->
      s"""SELECT doc_id, lang, w FROM (
            SELECT doc_id, lang,
              CAST(LEAST(len(string_split(text, ' ')), $WsCap) AS BIGINT) AS w
            FROM $doc) x
          WHERE ${Det.sqlMd5h32("CAST(doc_id AS VARCHAR)")} % $WsDen < w
          ORDER BY doc_id""",
    // Split-drift KS: pooled per-(lang, length) side counts → integer
    // cumulative sums → CDF gap (the only floats: two divisions + one
    // subtraction, unrounded) → max + smallest-argmax. The CTE chain
    // mirrors the Spark window plan stage for stage.
    "q_llm_ksdrift" ->
      s"""WITH s AS (
            SELECT lang, n_chars AS v,
              (${Det.sqlMd5h32("CAST(doc_id AS VARCHAR)")} % 10 < 8) AS a
            FROM $doc WHERE n_chars IS NOT NULL
          ), pooled AS (
            SELECT lang, v,
              SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
              SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
            FROM s GROUP BY 1, 2
          ), c AS (
            SELECT lang, v,
              SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cum_a,
              SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS cum_b,
              SUM(ca) OVER (PARTITION BY lang) AS na,
              SUM(cb) OVER (PARTITION BY lang) AS nb
            FROM pooled
          ), g AS (
            SELECT lang, v, na, nb,
              CASE WHEN na > 0 AND nb > 0 THEN
                ABS(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE)) END AS gap
            FROM c
          ), m AS (
            SELECT *, MAX(gap) OVER (PARTITION BY lang) AS mx FROM g
          )
          SELECT lang, MAX(gap) AS ks_stat,
            MIN(CASE WHEN gap = mx THEN v END) AS ks_at,
            CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b
          FROM m GROUP BY 1 ORDER BY lang""",
    // Split-drift EMD: same pooled-CDF chain; the per-value term
    // |cum_a·n_b − cum_b·n_a|·Δv stays integer (HUGEINT — the twin of
    // the engine's DECIMAL(38,0)), summed exactly; one rounded division.
    "q_llm_emddrift" ->
      s"""WITH s AS (
            SELECT lang, n_chars AS v,
              (${Det.sqlMd5h32("CAST(doc_id AS VARCHAR)")} % 10 < 8) AS a
            FROM $doc WHERE n_chars IS NOT NULL
          ), pooled AS (
            SELECT lang, v,
              SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
              SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
            FROM s GROUP BY 1, 2
          ), c AS (
            SELECT lang, v,
              SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cum_a,
              SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS cum_b,
              SUM(ca) OVER (PARTITION BY lang) AS na,
              SUM(cb) OVER (PARTITION BY lang) AS nb
            FROM pooled
          ), g AS (
            SELECT lang, na, nb,
              LEAD(v) OVER (PARTITION BY lang ORDER BY v) - v AS dv,
              ABS(CAST(cum_a AS HUGEINT) * CAST(nb AS HUGEINT)
                - CAST(cum_b AS HUGEINT) * CAST(na AS HUGEINT)) AS num
            FROM c
          )
          SELECT lang,
            CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
              round(COALESCE(CAST(SUM(CASE WHEN dv IS NOT NULL
                                         THEN num * dv END) AS DOUBLE), 0.0)
                / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)), 6)
            END AS emd,
            CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b
          FROM g GROUP BY 1 ORDER BY lang""",
    // Split-drift TV: pooled per-(lang, length) side counts → per-value
    // |ca·n_b − cb·n_a| in HUGEINT (the engine's DECIMAL(38,0) twin),
    // exact sum, one rounded division by 2·n_a·n_b. No cumulative
    // window — each pooled value's term is local.
    "q_llm_tvdrift" ->
      s"""WITH s AS (
            SELECT lang, n_chars AS v,
              (${Det.sqlMd5h32("CAST(doc_id AS VARCHAR)")} % 10 < 8) AS a
            FROM $doc WHERE n_chars IS NOT NULL
          ), pooled AS (
            SELECT lang, v,
              SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
              SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS cb
            FROM s GROUP BY 1, 2
          ), c AS (
            SELECT lang, v, ca, cb,
              SUM(ca) OVER (PARTITION BY lang) AS na,
              SUM(cb) OVER (PARTITION BY lang) AS nb
            FROM pooled
          )
          SELECT lang,
            CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
              round(CAST(SUM(ABS(CAST(ca AS HUGEINT) * CAST(nb AS HUGEINT)
                               - CAST(cb AS HUGEINT) * CAST(na AS HUGEINT)))
                         AS DOUBLE)
                / (2.0 * CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)), 6)
            END AS tv,
            CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b
          FROM c GROUP BY 1 ORDER BY lang""",
    "q_llm_sample" ->
      s"""SELECT doc_id, lang, source, hk, CAST(rk AS INTEGER) AS rk FROM (
            SELECT doc_id, lang, source, hk,
              ROW_NUMBER() OVER (PARTITION BY lang, source
                                 ORDER BY hk ASC, doc_id ASC) AS rk
            FROM (SELECT doc_id, lang, source,
                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hk
                  FROM $doc) h) r
          WHERE rk <= $SampleK ORDER BY doc_id""",
    "q_llm_pack" -> s"""$packCoreSql
          ORDER BY doc_id""",
    // The naive form of budgetSelect: ONE global ordered cumsum —
    // semantically the contract; the Spark side decomposes it by
    // quality bucket so no corpus-sized single-partition window runs.
    "q_llm_budget" ->
      s"""WITH d AS (
            SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
                AS quality
            FROM $doc),
          c AS (
            SELECT *, SUM(n_tok) OVER (ORDER BY quality DESC, doc_id ASC
              ROWS UNBOUNDED PRECEDING) AS cum
            FROM d)
          SELECT doc_id, quality, n_tok,
            CAST(cum <= $BudgetTok AS INTEGER) AS kept
          FROM c ORDER BY doc_id""",
    "q_llm_packeff" ->
      s"""WITH p AS ($packCoreSql)
          SELECT lang, shard, COUNT(*) AS n_docs,
            CAST(SUM(n_tok) AS BIGINT) AS total_tok,
            MAX(bin) + 1 AS n_bins,
            CAST(SUM(n_tok) AS BIGINT) / ((MAX(bin) + 1) * $PackBudget)
              AS fill_ratio
          FROM p GROUP BY 1, 2 ORDER BY lang, shard""",
    "q_text_tfidf" ->
      s"""WITH tok AS (
            SELECT doc_id, len(string_split(text, ' ')) AS doc_len,
              UNNEST(string_split(text, ' ')) AS term
            FROM $doc),
          tf AS (SELECT doc_id, term, MAX(doc_len) AS doc_len,
                   COUNT(*) AS tf
                 FROM tok GROUP BY doc_id, term),
          dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          n AS (SELECT COUNT(*) AS n_docs FROM $doc),
          scored AS (
            SELECT doc_id, term, tf, df,
              (tf / doc_len) * (n_docs / df) AS tfidf
            FROM tf JOIN dfx USING (term) CROSS JOIN n)
          SELECT doc_id, term, tf, df, tfidf, CAST(rk AS INTEGER) AS rk
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term ASC) AS rk
                FROM scored) z
          WHERE rk <= $TfidfK ORDER BY doc_id, rk""",
    // CAST(0.2 AS DOUBLE): DuckDB parses bare decimal literals as
    // DECIMAL (exact), Spark's lit(0.2) is a double — the cast keeps
    // both engines in the same IEEE op sequence (README policy #2).
    "q_llm_mix" ->
      s"""WITH counts AS (
            SELECT source, COUNT(*) AS n_docs FROM $doc GROUP BY source),
          tot AS (SELECT COUNT(*) AS n_total FROM $doc),
          rates AS (
            SELECT source, n_docs, n_docs / n_total AS share,
              LEAST(CAST(1.0 AS DOUBLE),
                    CAST($MixTargetShare AS DOUBLE) * n_total / n_docs) AS rate
            FROM counts CROSS JOIN tot),
          kept AS (
            SELECT d.source,
              CAST(SUM(CASE WHEN
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % $MixMod < r.rate * $MixMod
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            FROM $doc d JOIN rates r ON d.source = r.source
            GROUP BY d.source)
          SELECT source, n_docs, share, rate, n_kept
          FROM rates JOIN kept USING (source) ORDER BY source""",
    // the pipeline twin is assembled from the stage twins: the split
    // bucket derivation (q_llm_split's expression), the dedup keeper
    // selection (q_llm_dedup's MIN-per-hash), and packCoreSqlOn — the
    // exact text q_llm_pack/q_llm_packeff run, pointed at the kept CTE
    "q_llm_pipeline" ->
      s"""WITH b AS (
            SELECT doc_id, lang, text, md5(text) AS h,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS bucket
            FROM $doc),
          train AS (SELECT doc_id, lang, text, h FROM b WHERE bucket < 8),
          keep AS (SELECT MIN(doc_id) AS kid FROM train GROUP BY h),
          kept AS (SELECT doc_id, lang, text FROM train
                   WHERE doc_id IN (SELECT kid FROM keep)),
          p AS (${packCoreSqlOn("kept")})
          SELECT doc_id, lang, shard, n_tok, cum_before, bin FROM p
          ORDER BY doc_id""",
    // the q_llm_bloomscreen oracle IS the plain membership join — the
    // bloom prescreen + verify composition must be semantics-free, so
    // its twin is ingestDedup's un-prescreened form verbatim
    "q_llm_bloomscreen" ->
      s"""WITH b AS (
            SELECT doc_id, md5(text) AS h,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS bucket
            FROM $doc),
          corpus AS (SELECT DISTINCT h AS h0 FROM b WHERE bucket < 8)
          SELECT doc_id, h, CAST(h0 IS NOT NULL AS INTEGER) AS is_dup
          FROM (SELECT doc_id, h FROM b WHERE bucket >= 8) nb
            LEFT JOIN corpus ON nb.h = corpus.h0
          ORDER BY doc_id""",
    "q_llm_ingest" ->
      s"""WITH b AS (
            SELECT doc_id, md5(text) AS h,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS bucket
            FROM $doc),
          corpus AS (SELECT DISTINCT h AS h0 FROM b WHERE bucket < 8)
          SELECT doc_id, h, CAST(h0 IS NOT NULL AS INTEGER) AS is_dup
          FROM (SELECT doc_id, h FROM b WHERE bucket >= 8) nb
            LEFT JOIN corpus ON nb.h = corpus.h0
          ORDER BY doc_id""",
    // the two salts are string-literal prefixes, so the twin expressions
    // are the verbatim md5 machinery of the split/sample oracles
    "q_llm_shuffle" ->
      s"""SELECT doc_id, shard, ord, CAST(pos AS INTEGER) AS pos FROM (
            SELECT doc_id, shard, ord,
              ROW_NUMBER() OVER (PARTITION BY shard
                                 ORDER BY ord ASC, doc_id ASC) AS pos
            FROM (SELECT doc_id,
                    ${Det.sqlMd5h32("'shuf:' || CAST(doc_id AS VARCHAR)")}
                      % $ShuffleShards AS shard,
                    ${Det.sqlMd5h32("'ord:' || CAST(doc_id AS VARCHAR)")} AS ord
                  FROM $doc) h) r
          ORDER BY doc_id""",
    "q_text_rep" ->
      s"""SELECT doc_id, n_sh, n_uniq, (n_sh - n_uniq) / n_sh AS rep_ratio
          FROM (SELECT doc_id,
                  CAST(len(tk) - 2 AS INTEGER) AS n_sh,
                  CAST(len(${LlmOps.shingleSql}) AS INTEGER) AS n_uniq
                FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM $doc) t
                WHERE len(tk) >= 3) x
          ORDER BY doc_id""",
    // bucket-decomposed PERCENT_RANK: rank−1 = cumulative count of
    // strictly-lower score buckets; ONE unrounded IEEE division
    "q_llm_qnorm" ->
      s"""WITH s AS (
            SELECT doc_id, len(list_distinct(string_split(text, ' ')))
              AS score
            FROM $doc),
          b AS (SELECT score, COUNT(*) AS cnt FROM s GROUP BY 1),
          c AS (SELECT score,
                  COALESCE(SUM(cnt) OVER (ORDER BY score ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS below,
                  SUM(cnt) OVER () AS n
                FROM b)
          SELECT s.doc_id, CAST(s.score AS INTEGER) AS score,
            CASE WHEN n > 1 THEN below / (n - 1) END AS pr
          FROM s JOIN c USING (score) ORDER BY doc_id""")
}
