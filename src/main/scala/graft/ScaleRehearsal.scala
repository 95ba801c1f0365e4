package graft

import org.apache.spark.sql.functions._
import org.json4s.JLong

/** Scale rehearsal (not graded, not part of the bench): measures the
  * operators whose 100-TB story rests on an asymptotic claim, on
  * synthetic inputs 1×/10×/100× the sf0.1 row count — evidence that the
  * claimed scaling is measured, not asserted. Synthetic data is used
  * deliberately: this harness checks COST CURVES, not answers (the
  * graded tables stay the only correctness inputs).
  *
  * Current probes, all over (status ×3, price ≲n distinct, qty 1..50)
  * rows derived deterministically from `spark.range`:
  *  - `pct_engine`: operators.Percentiles.cont (median + p90) — the
  *    scale-safe distinct-count + spillable-window plan.
  *  - `pct_native`: Spark's native `percentile()` on the same input —
  *    the no-spill ObjectHashAggregate buffer this library refuses in
  *    graded plans.
  *  - `topk_group`: rank-3-per-group via WindowGroupLimit — the graded
  *    top-k plan. Expectation: ~linear (per-partition top-k before the
  *    exchange).
  *
  * MEASURED (2026-08-13, local[32], 600k/6M/60M rows — see BASELINE.md
  * for the full table): the engine scales ~linearly and its memory is
  * bounded by the spillable window sort, but with G groups the window
  * stage runs on exactly G tasks (a Window partitionBy(g) is one task
  * per group) — at 60M rows / 3 groups that serialization, not memory,
  * dominates (8.3 s vs native 0.8 s, which stays in-heap-fast while
  * the ~20M-distinct-per-group buffer FITS). The honest statement of
  * the trade: native percentile is faster as long as each group's
  * distinct-value buffer fits a task's heap and dies when it doesn't
  * (no spill); the engine never dies, pays a per-group sequential sort
  * that any exact method needs, and spills it to disk instead of
  * failing. Graded plans keep the engine (correctness gates must not
  * be heap-sized); callers with many small groups get parallelism
  * back automatically (tasks = groups).
  *
  * Pair-generation family (r10, verdict item 2): the most expensive
  * graded queries rest on "candidates ∝ shared-feature collisions, not
  * corpus²" (neardup/ngram), "rounds ∝ diameter, per-round cost ∝
  * edges" (cc), and "shuffle ∝ clusters" (keepbest). Probed at 600k /
  * 6M synthetic docs — 16 tokens each over an n-sized vocabulary, one
  * hot token in every doc (exercises the hot-feature prefix drop), and
  * a planted near-copy per even doc (one token changed → J = 15/17 for
  * token sets, 13/15 for shingles — both above their graded
  * thresholds), so the true pair count is exactly n/2 at every size:
  *  - `neardup_pairs`: the full q_llm_neardup engine (prefix-filtered
  *    AllPairs + codegen Jaccard verify) via Graft.nearDupPairs.
  *  - `ngram_pairs`: the q_llm_ngram shape (3-gram shingles, t = 1/5 —
  *    the long-prefix regime) over the same corpus.
  *  - `cc_flat` / `cc_chain8`: hash-min label propagation on n/2
  *    planted pair edges (diameter 1) vs 8-node chains over the same
  *    node count (diameter 7 — isolates the rounds ∝ diameter cost).
  *  - `keepbest`: pair edges → clusters → struct-max keeper, end to
  *    end via Graft.keepBest.
  *  - `bloom_screen` / `bloom_plain` (r10): the q_llm_bloomscreen
  *    shape (one-row sketch + map-side probe + verify join over
  *    survivors) vs the plain membership semi join it replaces, on an
  *    n-hash corpus × n/10-probe batch with n/20 planted members.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleRehearsal"
  *        [probe-name substring filter as arg, e.g. "pairs" to run
  *         only the pair-family probes]
  * Prints one [[Trace]] record line per (probe, rows), plus `rows` (the
  * input size) and `out` (the probe's row count, -1 for a noop sink).
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._
    val sizes = Seq(600000L, 6000000L, 60000000L) // sf0.1-lineitem ×1/×10/×100
    def synth(n: Long) = spark.range(n).select(
      concat(lit("S"), (col("id") % 3)).as("st"),
      ((abs(xxhash64(col("id"))) % 100000000L).cast("double") / 100.0).as("price"),
      (col("id") % 50 + 1).as("qty"))
    // shuffle-bytes accounting: on a single node every probe's wall
    // clock hides the cluster cost (shuffles are loopback memcpys
    // here); the record's summed stage shuffle_write_bytes is the
    // layout-independent number that survives the 1000-executor
    // extrapolation.
    def time(label: String, n: Long)(body: => Long): Unit = {
      val (out, rec) = Trace.run(label)(body)
      println(rec.line("rows" -> JLong(n), "out" -> JLong(out)))
    }
    // arg = probe-name substring filter ("pairs" → pair family only)
    val only = args.headOption.getOrElse("")
    def want(label: String) = only.isEmpty || label.contains(only)
    // full-evaluation sink for probes whose cost lives in row-count-
    // preserving operators (windows, per-row expressions): count()
    // prunes every column it doesn't need, so a counted probe can
    // silently measure a fraction of the plan (the §5 gotcha)
    def noop(df: org.apache.spark.sql.DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); -1L
    }

    // 16 tokens/doc: 1 corpus-wide hot token, 14 base-derived tokens
    // from an n-sized vocabulary (DF-ascending prefixes pick the rare
    // ones), 1 unique-per-doc token. base = id - id%2 ⇒ every even/odd
    // pair differs ONLY in the unique token: planted J = 15/17 (sets),
    // 13/15 (3-gram shingles) — the ground truth is n/2 pairs exactly.
    def synthDocs(n: Long) = {
      val base = (col("id") - pmod(col("id"), lit(2L))) * 16L
      spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ",
          (lit("the") +:
            (1 to 14).map(j =>
              concat(lit("w"), pmod(xxhash64(base + j), lit(n))))) :+
            concat(lit("u"), col("id")): _*).as("text"))
    }
    def pairEdges(n: Long) = spark.range(n).filter(pmod(col("id"), lit(2L)) === 0)
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
    def chainEdges(n: Long) = spark.range(n).filter(pmod(col("id"), lit(8L)) =!= 7)
      .select(col("id").as("a"), (col("id") + 1L).as("b"))

    Seq(600000L, 6000000L).foreach { n =>
      // r14 text newcomers, driven through the EXACT graded engines.
      // rarity over synthDocs is the WORST case: the vocabulary is
      // n-sized (df table ∝ corpus), so expect time/shuffle ∝ the
      // (doc, distinct-word) pair count; output pinned at top-50.
      // keyness groups the same corpus into 20 sources; its hot path
      // is the (source, word) agg ∝ per-source vocab. repartition(32)
      // breaks range's clustering freebie (the r13 honesty note).
      if (want("rarity")) time("rarity", n) {
        Graft.rarityScores(synthDocs(n).repartition(32),
          "doc_id", "text").count()
      }
      if (want("keyness")) time("keyness", n) {
        Graft.keywords(synthDocs(n).repartition(32)
          .withColumn("src", concat(lit("s"), pmod(col("doc_id"), lit(20L)))),
          "src", "text").count()
      }
      // Assortativity (r14): planted star forest, fanout 50 — every
      // edge joins a deg-50 center to a deg-1 leaf, so assort = −1
      // EXACTLY at every scale (planted truth recovered inside the
      // curve). Claim: degree agg shuffles ∝ nodes, the two equi
      // join-backs ∝ edges (AQE broadcasts the node side while it
      // fits), the power-sum collapse is ONE map-side-combining global
      // agg to a single row. repartition(32) breaks range's clustering
      // freebie (the r13 honesty note).
      if (want("graph_assort")) time("graph_assort", n) {
        val pairs = spark.range(n).select(
          expr("(id div 50) * 2").as("p"), (col("id") * 2L + 1L).as("q"))
        val edges = pairs.select(explode(array(
            struct(col("p").as("src"), col("q").as("dst")),
            struct(col("q").as("src"), col("p").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .repartition(32)
        val r = graft.queries.GraphOps.assortOn(edges).collect().head
        require(r.getAs[Double]("assort") == -1.0,
          s"planted star-forest assort != -1: $r")
        r.getAs[Long]("m_edges")
      }
      // Chunk-level dedup (r14): 128-byte payloads = 8 fixed 16-byte
      // blocks — 7 drawn from a 1000-per-position pool (id mod 1000,
      // exactly 7000 distinct pooled blocks) + 1 unique tail. Planted
      // truth at every n: total = 8n, distinct = 7000 + n, dedupable
      // bytes = 16·(total − distinct) — recovered exactly inside the
      // curve. Claim: explode rows ∝ bytes∕16 (the workload's honest
      // size), shuffle ∝ DISTINCT chunks (the n unique tails dominate;
      // pooled viral blocks combine map-side). repartition(32) breaks
      // range's clustering freebie.
      if (want("mm_chunkdup")) time("mm_chunkdup", n) {
        val docs = spark.range(n).select(
          concat(
            ((0 until 7).map(j =>
              lpad(concat(lit("b"), pmod(col("id"), lit(1000L)),
                lit("j"), lit(j)), 16, "x")) :+
              lpad(concat(lit("u"), col("id")), 16, "x")): _*)
            .cast("binary").as("payload"))
          .repartition(32)
        val r = graft.queries.MultimodalOps.chunkDedupOn(docs).collect()
        val (tot, dist, bytes) = (r.map(_.getAs[Long]("n_chunks")).sum,
          r.map(_.getAs[Long]("n_distinct")).sum,
          r.map(_.getAs[Long]("bytes_dedupable")).sum)
        require(tot == 8L * n && dist == 7000L + n
          && bytes == 16L * (tot - dist),
          s"planted chunk-dedup truth missed: tot=$tot dist=$dist bytes=$bytes")
        dist
      }
      // Theil-Sen trend (r14): 32 types × √n planted PERFECT-LINE days
      // (count = 5 + 2·day) — every pairwise slope is exactly 2.0, so
      // the median is 2.0 at every scale (truth inside the curve).
      // Claim: pairs ∝ days²∕2 per type (calendar-bounded, corpus-
      // independent) and the per-type rank window sorts that bounded
      // set; day-grain input is synthesized directly (the graded
      // query's event scan + day agg is ∝ corpus and measured by the
      // bench — this probes the pair stage's days² asymptotics alone).
      // √n days∕type (775 at 600k, 2450 at 6M — both inside a real
      // decade's 3650) makes the PAIR count grow exactly 10× per step:
      // 9.6M → 96M total pairs.
      if (want("event_trend")) time("event_trend", n) {
        val days = math.sqrt(n.toDouble).toLong
        val daily = Scope.eager(spark.range(32L * days).select(
          concat(lit("t"), pmod(col("id"), lit(32L))).as("event_type"),
          expr("id div 32").as("dd"),
          expr("5 + (id div 32) * 2").as("n")).repartition(32))
        val pairs = daily.select(col("event_type"), col("dd").as("d1"),
            col("n").as("n1"))
          .join(daily.select(col("event_type"), col("dd").as("d2"),
            col("n").as("n2")), Seq("event_type"))
          .filter(col("d1") < col("d2"))
          .select(col("event_type"), col("d1"), col("d2"),
            ((col("n2") - col("n1")).cast("double")
              / (col("d2") - col("d1")).cast("double")).as("slope"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("slope"), col("d1"), col("d2"))
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
        val meds = pairs
          .withColumn("rk", row_number().over(w))
          .withColumn("m", count(lit(1)).over(wAll))
          .filter(col("rk") === expr("(m + 1) div 2"))
          .select(col("event_type"), col("slope")).collect()
        require(meds.length == 32 &&
          meds.forall(_.getAs[Double]("slope") == 2.0),
          s"planted perfect-line trend missed: ${meds.take(3).mkString}")
        meds.length.toLong
      }
      if (want("neardup_pairs")) time("neardup_pairs", n) {
        Graft.nearDupPairs(synthDocs(n), "doc_id", "text", Nil, 4, 5).count()
      }
      if (want("ngram_pairs")) time("ngram_pairs", n) {
        // the q_llm_ngram shape on the synthetic corpus: 3-gram
        // shingles, prefix filter at t = 1/5, codegen Jaccard verify
        graft.functions.JaccardStr.register(spark)
        val docs = Scope.eager(synthDocs(n)
          .withColumn("tk", split(col("text"), " "))
          .select(col("doc_id"),
            graft.queries.LlmOps.shinglesCol(col("tk")).as("g")))
        val feats = docs.select(col("doc_id"),
          size(col("g")).cast("long").as("sz"), explode(col("g")).as("feat"))
        graft.queries.LlmOps.jaccardCandidates(feats, Nil, 1, 5)
          .join(docs.select(col("doc_id").as("a_id"), col("g").as("g_a")),
            col("doc_a") === col("a_id"))
          .join(docs.select(col("doc_id").as("b_id"), col("g").as("g_b")),
            col("doc_b") === col("b_id"))
          .filter(call_function("graft_jaccard", col("g_a"), col("g_b")) >= 0.2)
          .count()
      }
      if (want("cc_flat")) time("cc_flat", n) {
        graft.operators.ConnectedComponents.run(pairEdges(n)).count()
      }
      if (want("cc_chain8")) time("cc_chain8", n) {
        graft.operators.ConnectedComponents.run(chainEdges(n)).count()
      }
      if (want("keepbest")) time("keepbest", n) {
        val scores = spark.range(n).select(col("id").as("doc_id"),
          pmod(xxhash64(col("id")), lit(1000L)).cast("double").as("sc"))
        Graft.keepBest(pairEdges(n), scores, "doc_id", "sc").count()
      }
      // Bloom-prescreen family (r10): corpus = n hashes, batch = n/10
      // probes with a planted member every `every`-th probe — ground
      // truth n/(10·every) dups exactly. bloom_screen is the graded
      // q_llm_bloomscreen verify orientation (sketch prescreen →
      // survivors on the broadcast-ELIGIBLE side of the corpus join →
      // found-set dedup ≤ survivors); bloom_plain is the plain
      // membership semi join it replaces. Two regimes: 50% dups (the
      // screen can drop little — its worst case) and 1% dups (the
      // ingest regime the screen exists for). The load-bearing number
      // is shuffle_mb, not secs: single-node shuffles are loopback
      // memcpys, cluster shuffles are the network.
      def bloomCorpus = spark.range(n)
        .select(md5(concat(lit("c"), col("id"))).as("h0"))
      def bloomBatch(every: Long) = spark.range(n / 10)
        .select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(every)) === 0,
            md5(concat(lit("c"), col("id"))))
            .otherwise(md5(concat(lit("x"), col("id")))).as("h"))
      // bloomPrefilter's clamp guard fires (loudly, by design) past
      // Spark's default 4M-item sizing cap — the 6M probe documents
      // the knob a larger build side requires (the bits cap's default
      // 64M bits still accommodates 6M items at fpp 0.01)
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 10000000L)
      Seq(2L -> "hidup", 100L -> "lodup").foreach { case (every, tag) =>
        if (want(s"bloom_screen_$tag")) time(s"bloom_screen_$tag", n) {
          val corpus = bloomCorpus
          val survivors = graft.operators.ScaleOps
            .bloomPrefilter(corpus, "h0", bloomBatch(every), "h", n, 0.01)
            .filter(coalesce(col("might_match"), lit(false)))
            .select(col("doc_id"), col("h"))
          val found = corpus
            .join(survivors.select(col("h").as("hs")), col("h0") === col("hs"))
            .select(col("hs").as("hf")).distinct()
          survivors.join(found, col("h") === col("hf"), "left_semi").count()
        }
        if (want(s"bloom_plain_$tag")) time(s"bloom_plain_$tag", n) {
          bloomBatch(every)
            .join(bloomCorpus.distinct(), col("h") === col("h0"), "left_semi")
            .count()
        }
      }
      // Containment family (late r10): same synthetic corpus as the
      // Jaccard probes — even/odd near-copies share 15 of 16 tokens, so
      // cont = 15/16 ≥ 0.9 BOTH directions (truth = n ordered pairs),
      // and the corpus-wide hot token exercises the asymmetric prefix
      // drop (probe prefixes exclude it; the container side's full
      // posting list must still never expand against them).
      if (want("contain_pairs")) time("contain_pairs", n) {
        Graft.containPairs(synthDocs(n), "doc_id", "text", Nil, 9, 10).count()
      }
      // Composition-reuse A/B (r12, verdict item 8): the graded
      // cc/tri/keepbest queries each recompute the pair list COLD by
      // design (the every-query-runs-cold bench contract); this pair
      // measures what a composing caller saves by persisting the pair
      // list once for all three consumers. The delta is the documented
      // PRICE of the cold-bench design, not a defect — production
      // composition goes through Graft with its own persist. Triangle
      // note: the planted pairs are disjoint, so the wedge join's
      // output is empty — the A/B isolates the shared PAIR-GENERATION
      // stage, which is exactly the reused piece.
      def pairCols(df: org.apache.spark.sql.DataFrame) =
        df.select(col(df.columns(0)).as("a"), col(df.columns(1)).as("b"))
      def triCount(pairs: org.apache.spark.sql.DataFrame): Long =
        pairs.join(pairs.select(col("a").as("b2"), col("b").as("c")),
            col("b") === col("b2"))
          .join(pairs.select(col("a").as("a3"), col("b").as("c3")),
            col("a") === col("a3") && col("c") === col("c3"))
          .count()
      def kbScores = spark.range(n).select(col("id").as("doc_id"),
        pmod(xxhash64(col("id")), lit(1000L)).cast("double").as("sc"))
      if (want("compose_cold")) time("compose_cold", n) {
        def pairs() = pairCols(
          Graft.nearDupPairs(synthDocs(n), "doc_id", "text", Nil, 4, 5))
        graft.operators.ConnectedComponents.run(pairs()).count()
        triCount(pairs())
        Graft.keepBest(pairs(), kbScores, "doc_id", "sc").count()
      }
      if (want("compose_shared")) time("compose_shared", n) {
        // one materialization feeds all three consumers
        val pairs = Scope.eager(pairCols(
          Graft.nearDupPairs(synthDocs(n), "doc_id", "text", Nil, 4, 5)))
        graft.operators.ConnectedComponents.run(pairs).count()
        triCount(pairs)
        val out = Graft.keepBest(pairs, kbScores, "doc_id", "sc").count()
        Scope.release(pairs)
        out
      }
      // Pipeline composition (r11, verdict item 8): the graded
      // q_llm_pipeline chain (split → md5-dedup keep-filter → pack) on
      // the synthetic corpus with a 5-way lang mix. The claim: composing
      // adds NO shuffle beyond the stages' own — dedup ∝ distinct
      // contents, pack one hash exchange — so shuffle ∝ kept rows
      // (linear), never a second corpus-wide exchange, and secs track
      // the dedup agg + the 40-task pack window. noop-written: count()
      // would prune pack's bin-assignment window (row-count-preserving).
      if (want("pipeline")) time("pipeline", n) {
        noop(graft.queries.PipelineOps.pipeline(
          synthDocs(n).withColumn("lang",
            concat(lit("L"), pmod(col("doc_id"), lit(5L))))))
      }
      // PageRank (r11): per-hop movement = the node-sized rank table +
      // map-side-combined dst partials (the quantized order-free sum);
      // the edge table shuffles ONCE at persist. Graph: n edges, n/10
      // hub targets with 10 in-edges each (exercises the map-side
      // collapse). noop-written: count() would prune the entire rank
      // computation (ranks keep the node count regardless).
      if (want("pagerank")) time("pagerank", n) {
        noop(graft.operators.PageRank.run(
          spark.range(n).select(
            col("id").as("src"), pmod(col("id"), lit(n / 10L)).as("dst")),
          3))
      }
      // Winnow dedup family (r12): same planted-near-copy corpus as the
      // Jaccard probes (even/odd docs share 12 of 13 4-grams — multiple
      // guaranteed shared fingerprints, truth ≈ n/2 pairs). Claim under
      // test: postings ≈ 2/(W+1) of grams (the sketch density) and the
      // capped posting self-join stays ∝ Σ df² — never corpus².
      if (want("winnowdup")) time("winnowdup", n) {
        Graft.winnowDupPairs(synthDocs(n), "doc_id", "text").count()
      }
      // Bipartite projection (r12): n edges, part degree fixed at 25
      // (under the 50 cap — nothing drops, the honest worst case), so
      // wedges = Σ deg² = 25·n exactly; suppliers fixed at 1000 → the
      // pair agg collapses 25n wedges into ≤ C(1000,2) candidates and
      // top-5 bounds the output. Claim: secs ∝ wedges (linear in n at
      // fixed degree), shuffle ∝ wedges + candidate table.
      if (want("cosim")) time("cosim", n) {
        graft.queries.GraphOps.cosimOn(
          spark.range(n).select(
            expr("id div 25").as("p"),
            pmod(col("id"), lit(1000L)).as("sp"))
          .distinct()).count()
      }
      // the same through-node wedge family as cosim, plus the degree
      // join that attaches RA weights — the shuffle delta vs cosim IS
      // the weight-attachment cost (deg is computed either way)
      if (want("linkpred")) time("linkpred", n) {
        graft.queries.GraphOps.linkpredOn(
          spark.range(n).select(
            expr("id div 25").as("p"),
            pmod(col("id"), lit(1000L)).as("sp"))
          .distinct()).count()
      }
      // Triangle family (r15): degree-ordered wedge enumeration. The
      // 100× claim under test: work ∝ Σ C(outdeg, 2) bounded by
      // DEGENERACY under the low→high orientation, NOT by max degree.
      // tri_uniform: ~n distinct edges over n/10 nodes (avg deg ~20).
      // tri_hub: the SAME graph plus a full star on node 0 (max degree
      // jumps to n/10) — if the last-reducer curse were real here, the
      // hub's C(n/10, 2) wedges would dominate; under orientation the
      // hub is every edge's SINK (outdeg ~0) and the probe must price
      // ≈ tri_uniform + the star edges' linear cost.
      def triNodes = n / 10L
      def triBase = spark.range(n).select(
          pmod(col("id"), lit(triNodes)).as("x"),
          pmod(xxhash64(col("id")), lit(triNodes)).as("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .filter(col("a") < col("b")).distinct()
      if (want("tri_uniform")) time("tri_uniform", n) {
        graft.queries.GraphOps.trianglesOn(triBase)._1.count()
      }
      if (want("tri_hub")) time("tri_hub", n) {
        val hub = spark.range(triNodes).filter(col("id") > 0)
          .select(lit(0L).as("a"), col("id").as("b"))
        graft.queries.GraphOps.trianglesOn(
          triBase.union(hub).distinct())._1.count()
      }
      // the curse isolated: a PURE n-spoke star has ZERO triangles,
      // but a through-the-hub wedge enumerator would price C(n, 2)
      // candidates (1.8·10¹¹ at 6M — unrunnable); the oriented engine
      // gives the hub out-degree 0 and must finish in scan time.
      if (want("tri_star")) time("tri_star", n) {
        graft.queries.GraphOps.trianglesOn(
          spark.range(n).filter(col("id") > 0)
            .select(lit(0L).as("a"), col("id").as("b")))._1.count()
      }
      // the buildPartitions knob: the sketch build ships one full-size
      // partial buffer per map partition, so coalescing the build to 8
      // should cut the screen's shuffle ~4× (32 → 8 partials) at some
      // build-scan parallelism cost — measured, not asserted
      // Graph-community family (r13, verdict item 6 — the two r12
      // newcomers with no rehearsal row). Planted truths: labelprop
      // over n/2 disjoint pair-communities must emit one label per
      // node (out = n; flat vs 8-chain isolates the neighborhood-size
      // term at fixed rounds); kcore over a 4-regular ring core of
      // n/100 nodes with degree-1 tails on every other node — the k=3
      // peel eats ALL tails in round 1 and the survivors are EXACTLY
      // the core (out = n/100, each at ring degree 4). Claims: both ∝
      // edges·rounds (per-round equi-join + map-side-combining aggs),
      // shuffle ∝ edges per round, never a window over the edge list.
      def sym(e: org.apache.spark.sql.DataFrame) =
        e.select(col("a").as("src"), col("b").as("dst"))
          .union(e.select(col("b").as("src"), col("a").as("dst"))).distinct()
      if (want("labelprop_flat")) time("labelprop_flat", n) {
        graft.operators.LabelProp.run(sym(pairEdges(n)), 3).count()
      }
      // projectionEdges (r19, verdict item 3 — the one r18 shape with
      // no dedicated curve: the pair table BEFORE vs AFTER the
      // above-mean affinity cut). Planted two-block-family bipartite:
      // n/34 cliques of 4 actors, each sharing 8 items (within-pair
      // n_common = 8), plus ONE bridge item linking consecutive
      // cliques (bridge-pair n_common = 1). Exact truths: pre-cut
      // pair table = 7 pairs/clique (6 within + 1 bridge); the cut
      // keeps nc·np > snc ⇔ nc > 7 ⇒ EXACTLY the 6 within pairs ⇒
      // out = 12·cliques directed edges, bridges gone. Claims: wedge
      // join shuffle ∝ Σ deg(item)² (deg 4 and 2 here, far under
      // CosimMaxDeg — time/shuffle ∝ rows), cut is a 1-row broadcast
      // — the pre/post probes should price the SAME because the cut
      // adds one global fold over the pair table.
      def projPs = {
        val c = n / 34L
        val within = spark.range(c * 8L)
          .select(col("id").as("p"), expr("id div 8").as("g"))
          .select(col("p"), explode(array(
            (0 to 3).map(k => col("g") * 4L + k): _*)).as("sp"))
        val bridges = spark.range(n / 34L).select(
          (col("id") + c * 8L).as("p"),
          explode(array(col("id") * 4L,
            pmod(col("id") + 1L, lit(c)) * 4L)).as("sp"))
        within.union(bridges)
      }
      // Pivot-sampled Brandes (r19): 3 fixed chain-start pivots over
      // the 8-node-chain graph. Planted truths (per own chain, rounds
      // 6 reach ≤ dist 6): nodes 1..5 carry δ = 5·10⁶ … 1·10⁶ — node
      // 6 is ABSENT (its below-level sits past the rounds cap, so it
      // brokers nothing within the horizon; the documented truncation
      // semantics) — out = 3·5 = 15 at every n. Claim: cost is the
      // 2·diameter driver-action floor + per-round shuffle ∝ edges
      // (the join reshuffles the full edge list each round even when
      // the frontier is 3 chains — exactly what a cluster pays, and
      // why pivots ride ONE plan).
      if (want("betweenness_chain")) time("betweenness_chain", n) {
        val seeds = Seq(0L, 8L, 16L).map(i => (i, i)).toDF("seed", "node")
        graft.operators.Betweenness
          .pivotBetweenness(sym(chainEdges(n)), seeds, 6, 20).count()
      }
      // Bounded Bellman-Ford (r19 post-seal): costFrom's full-table
      // relaxation on the 8-node chains, 3 chain-start seeds, edge
      // cost = (src mod 5) + 1. Planted truth: every reached node's
      // cost is the exact prefix sum along its chain (chains never
      // interact), out = 3·7 = 21 (seeds reach their whole chain
      // within 6 rounds... dist ≤ 6 edges reaches nodes 1..6 + seed =
      // 7 rows per seed). Claim: per-round shuffle ∝ edges (the full
      // edge list reshuffles every round — no frontier by design),
      // time = the fixed rounds·job floor, flat at ×10.
      if (want("wsssp_chain")) time("wsssp_chain", n) {
        val seeds = Seq(0L, 8L, 16L).map(i => (i, i)).toDF("seed", "node")
        val ce = sym(chainEdges(n)).withColumn("cost",
          pmod(col("src"), lit(5L)) + 1L)
        graft.operators.Bfs.costFrom(ce, seeds, 6).count()
      }
      // Weighted Brandes (r20): the betweenness_chain probe with the
      // wsssp_chain costs — on a chain every minimal-cost path is
      // unique (σ = 1, the DAG is the chain itself), so the planted
      // truth is dq(offset i) = (6−i)·10⁶ for i ∈ 1..5, offset 6
      // absent (no settled successor within the rounds horizon) —
      // out = 3·5 = 15 at every n. Claim: 3·rounds driver jobs (the
      // costFrom no-control-flow floor, time FLAT at ×10), per-step
      // shuffle ∝ pivots·edges (the d/σ/dq fixpoints each rejoin the
      // full edge/DAG table — exactly what a cluster pays).
      if (want("wbetweenness_chain")) time("wbetweenness_chain", n) {
        val seeds = Seq(0L, 8L, 16L).map(i => (i, i)).toDF("seed", "node")
        val ce = sym(chainEdges(n)).withColumn("cost",
          pmod(col("src"), lit(5L)) + 1L)
        graft.operators.BetweennessW
          .pivotBetweennessW(ce, seeds, 6, 20).count()
      }
      // Backward sweep at DEPTH (r20, the r19 verdict's item 6): the
      // per-LEVEL cost of Brandes' dependency accumulation, isolated —
      // the forward table is built OUTSIDE the timed body (settled is
      // localCheckpointed by construction), so each probe times ONLY
      // the backward levels: depth 2 runs 2 levels, depth 6 runs 6.
      // Claim: time ∝ levels (d6/d2 ≈ 3) and shuffle ∝
      // pivots·edges·levels — each level is ONE equi-join of the full
      // edge list vs the level slice + a hash agg, the per-level price
      // a cluster pays as diameter grows.
      if (want("betwback")) {
        val seeds = Seq(0L, 8L, 16L).map(i => (i, i)).toDF("seed", "node")
        val e = sym(chainEdges(n))
        Seq(2, 6).foreach { d =>
          val fw = graft.operators.Betweenness.forward(e, seeds, d)
          fw.count() // settle the checkpointed forward state pre-clock
          time(s"betwback_d$d", n) {
            graft.operators.Betweenness.dependencies(e, fw).count()
          }
        }
      }
      // s-core peel (r20): the kcore_peel shells with weights — ring
      // edges w=2 (the 4-regular ring holds strength 8 exactly), tails
      // w=1 (strength 1, peeled round 1; their loss re-exposes nothing
      // because the ring's own strength already clears s=8). Planted
      // truth: exactly m ring survivors, each strength 8. Claim:
      // per-round cost ∝ surviving edges (monotone shrinking), ×10
      // ≲ linear — the kcore curve with a SUM agg in place of COUNT.
      if (want("score_peel")) time("score_peel", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
            pmod(col("id") + 1L, lit(m)).as("b"), lit(2L).as("w"))
          .union(spark.range(m).select(col("id").as("a"),
            pmod(col("id") + 2L, lit(m)).as("b"), lit(2L).as("w")))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"), lit(1L).as("w"))
        val und = ring.union(tails)
        val ew = und.union(und.select(col("b").as("a"), col("a").as("b"),
          col("w"))).toDF("src", "dst", "w")
        val out = graft.operators.KCore.peelW(ew, 8L, 4)
          .agg(count(lit(1)), min(col("strength")), max(col("strength")))
          .collect()(0)
        require(out.getLong(0) == m && out.getLong(1) == 8L
            && out.getLong(2) == 8L,
          s"score planted truth not recovered at n=$n: $out")
        n
      }
      // Louvain contraction level (r20): a ring of n∕3 triangles —
      // level 1 is provably stuck (the KCoreSuite fixture at scale),
      // so the timed cost is refineWOn's bounded no-move scoring
      // passes (∝ edges) + ONE contraction join (∝ edges) + level-2
      // moves ∝ CONTRACTED edges (n∕3 ≪ n — the whole point of phase
      // 2). Budget 2 ⟹ exactly 2 pair-merges land (each ΔQ·W2² =
      // 2·W2 − 128 > 0 at any scale ring); planted truth: community
      // count drops by exactly 2. Claim: ×10 ≲ linear (edge-pass
      // dominated), contracted-level cost invisible beside it.
      if (want("louvain_contract")) time("louvain_contract", n) {
        val c = n / 3L
        val base = spark.range(c).select((col("id") * 3L).as("b"))
        val cl = base.select(col("b").as("a"), (col("b") + 1L).as("bb"))
          .union(base.select(col("b"), (col("b") + 2L).as("bb")))
          .union(base.select((col("b") + 1L).as("b"),
            (col("b") + 2L).as("bb")))
          .select(col("a"), col("bb").as("b"), lit(1L).as("w"))
        val bridges = spark.range(c).select(
          (col("id") * 3L + 2L).as("a"),
          (pmod(col("id") + 1L, lit(c)) * 3L).as("b"), lit(1L).as("w"))
        val und = cl.union(bridges)
        val ew = und.union(und.select(col("b").as("a"), col("a").as("b"),
          col("w"))).toDF("src", "dst", "w")
        val l0 = spark.range(n).select(col("id").as("node"),
          (expr("id div 3") * 3L).as("label"))
        val (_, l2) = graft.queries.GraphOps.louvain2On(ew, l0, 2)
        val comms = l2.select(col("label")).distinct().count()
        require(comms == c - 2L,
          s"contraction planted truth not recovered at n=$n: $comms")
        n
      }
      if (want("projpairs_all")) time("projpairs_all", n) {
        // the engine's wedge join up to the pair table, pre-cut
        val ps = projPs
        val deg = ps.groupBy(col("p")).agg(count(lit(1)).as("pd"))
        val el = ps.join(deg, Seq("p")).filter(col("pd") <= 50)
        el.select(col("p"), col("sp").as("sa"))
          .join(el.select(col("p"), col("sp").as("sb")), Seq("p"))
          .filter(col("sa") < col("sb"))
          .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_common"))
          .count()
      }
      if (want("projpairs_cut")) time("projpairs_cut", n) {
        graft.queries.GraphOps.projectionEdges(projPs).count()
      }
      if (want("labelprop_chain8")) time("labelprop_chain8", n) {
        graft.operators.LabelProp.run(sym(chainEdges(n)), 3).count()
      }
      if (want("kcore_peel")) time("kcore_peel", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
            pmod(col("id") + 1L, lit(m)).as("b"))
          .union(spark.range(m).select(col("id").as("a"),
            pmod(col("id") + 2L, lit(m)).as("b")))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"))
        graft.operators.KCore.peel(sym(ring.union(tails)), 3, 4).count()
      }
      // Full decomposition on the same planted shells (r16): the ring
      // is exactly 4-regular (±1, ±2 neighbors) so its core number is
      // 4; every tail is 1. Claim: levels stop at degeneracy+1 (the
      // emptied-graph exit), per-level cost ∝ surviving edges — the
      // ×10 step should grow ≲ linearly, and the PLANTED truth
      // (n−m at corenum 1, m at corenum 4) is recovered exactly.
      if (want("corenum")) time("corenum", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
            pmod(col("id") + 1L, lit(m)).as("b"))
          .union(spark.range(m).select(col("id").as("a"),
            pmod(col("id") + 2L, lit(m)).as("b")))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"))
        val out = graft.operators.CoreNumber
          .decompose(sym(ring.union(tails)), 12, 8)
          .groupBy(col("corenum")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        require(out == Map(1L -> (n - m), 4L -> m),
          s"corenum planted truth not recovered at n=$n: $out")
        n
      }
      // BFS on a planted two-level star-of-stars (r16): seed 0 → m mid
      // hubs → the rest as leaves; exact histogram (1, m, n−1−m).
      // Claim: per-round cost ∝ edges incident to the reached set,
      // rounds fixed — the ×10 step grows ≲ linearly.
      if (want("bfs_hops")) time("bfs_hops", n) {
        val m = n / 1000L
        val mids = spark.range(1L, m + 1).select(lit(0L).as("a"),
          col("id").as("b"))
        val leaves = spark.range(m + 1, n).select(
          (pmod(col("id"), lit(m)) + 1L).as("a"), col("id").as("b"))
        val out = graft.operators.Bfs.hops(sym(mids.union(leaves)), 4)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        require(out == Map(0L -> 1L, 1L -> m, 2L -> (n - 1 - m)),
          s"bfs planted truth not recovered at n=$n: $out")
        n
      }
      // q_llm_srcsim's EXACT-audit half on a planted hot-shingle
      // corpus (r17, verdict item 5): every doc carries the shingle
      // "hot hot hot", so it lands in ALL 20 sources and its
      // self-join fan-out is the documented ≤ |sources|² bound (190
      // pairs) NO MATTER how large n grows; the per-doc tail shingles
      // are vocabulary-drawn, so the distinct (source, shingle) table
      // grows ∝ docs and the ×10 step should be ≲ linear in time and
      // shuffle. Truth: with every pair sharing the hot shingle, the
      // aggregated inter table is EXACTLY C(20,2) = 190 rows, each
      // n_inter ≥ 1.
      // q_mm_cdc's cut scan + chunk dedup on synthetic ~120-byte
      // payloads (r17): work is ∝ bytes·window by construction (the
      // honest CDC cost — every position hashes an 8-byte window), so
      // the ×10 step should be ≲ linear in time AND shuffle; the
      // planted pairing (two docs per base id differing only in a
      // trailing tag — the synthDocs trick at the byte level) plants
      // shared chunks whose dedup the fold must find at every size.
      if (want("cdc_chunks")) time("cdc_chunks", n) {
        val payloads = spark.range(n).select(
          concat(lit("doc "),
            // base-pair text: even/odd ids share the first ~96 bytes
            concat_ws(" ", (1 to 12).map(j => concat(lit("w"),
              pmod(xxhash64((col("id") - pmod(col("id"), lit(2L))) * 16L
                + j), lit(n)))): _*),
            lit(" tail"), col("id")).cast("binary").as("payload"))
        val out = graft.queries.MultimodalOps.cdcDedupOn(payloads)
          .agg(sum(col("n_chunks")).as("nc"), sum(col("n_dups")).as("nd"))
          .collect()(0)
        require(out.getAs[Long]("nd") > 0,
          s"planted shared chunks not deduped at n=$n: $out")
        out.getAs[Long]("nc")
      }
      // q_graph_modularity's labeled-edge fold on the planted
      // ring+tails graph with the CORRECT 2-coloring... a ring is
      // 2-colorable only when even; use per-node parity labels — the
      // exact Q is then computable: all ring edges cross (ring
      // neighbors differ in parity for even m), tails cross or not by
      // parity of the pair. The CLAIM under test is cost, not Q:
      // two equi join-backs + a community-grain fold — time/shuffle
      // ≲ linear at ×10, output 1 row.
      if (want("modularity_fold")) time("modularity_fold", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
          pmod(col("id") + 1L, lit(m)).as("b"))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"))
        val edges = sym(ring.union(tails))
        val labels = spark.range(n).select(col("id").as("node"),
          pmod(col("id"), lit(2L)).as("label"))
        val r = graft.queries.GraphOps.modularityOn(edges, labels)
          .collect()(0)
        require(r.getAs[Long]("m_edges") == n,
          s"edge count drifted at n=$n: $r")
        n
      }
      // q_graph_conductance's fold on the SAME planted ring+tails
      // graph + parity labels (r18, verdict item 4: the join-back
      // sibling with no measured curve). Claim: identical shape to
      // modularity_fold — two label join-backs (shuffle ∝ edges) + a
      // community-grain agg + a node-count agg — time/shuffle ≲
      // linear at ×10; truth: exactly 2 parity communities out, total
      // volume = all 2n directed edges.
      if (want("conductance_fold")) time("conductance_fold", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
          pmod(col("id") + 1L, lit(m)).as("b"))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"))
        val edges = sym(ring.union(tails))
        val labels = spark.range(n).select(col("id").as("node"),
          pmod(col("id"), lit(2L)).as("label"))
        val out = graft.queries.GraphOps
          .conductanceOn(edges, labels, 10).collect()
        require(out.length == 2 &&
          out.map(_.getAs[Long]("vol_deg")).sum == 2L * n,
          s"conductance planted truth drifted at n=$n: ${out.mkString(";")}")
        n
      }
      // q_graph_richclub's double degree join-back on a planted
      // hub-club graph (r18, verdict item 4): m = n/100 hubs in a
      // ±1/±2 ring (4 hub-hub edges each) with the other n−m nodes as
      // leaves hanging off hub id%m (hub degree ≈ 4 + n/m ≈ 104,
      // leaf degree 1). At checkpoint k=50 ONLY hubs qualify: N = m,
      // E2 = the 4m directed hub-hub edges — the planted club truth;
      // k=10·n/m is above every degree → empty club (NULL φ). Claim:
      // per-node degree agg + TWO edge join-backs + one conditional
      // fold for all checkpoints — shuffle ∝ edges, time ≲ linear at
      // ×10, output 2 rows forever.
      if (want("richclub_deg")) time("richclub_deg", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
            pmod(col("id") + 1L, lit(m)).as("b"))
          .union(spark.range(m).select(col("id").as("a"),
            pmod(col("id") + 2L, lit(m)).as("b")))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"))
        val out = graft.queries.GraphOps
          .richclubOn(sym(ring.union(tails)), Seq(50L, 10L * n / m))
          .collect().map(r => r.getAs[Long]("k") -> r).toMap
        require(out(50L).getAs[Long]("n_nodes") == m &&
          out(50L).getAs[Long]("n_edges_dir") == 4L * m,
          s"club truth drifted at n=$n: ${out.mkString(";")}")
        require(out(10L * n / m).getAs[Long]("n_nodes") == 0L,
          s"empty club not empty at n=$n")
        n
      }
      // q_graph_modularity_w's weighted fold (r18 newcomer): the
      // modularity_fold graph with integer weights 1 + id%3 riding the
      // edges. Claim: identical join-back shape (the weight is one
      // extra summed column, zero extra shuffles); truth: 2 parity
      // communities.
      if (want("modularityw_fold")) time("modularityw_fold", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
          pmod(col("id") + 1L, lit(m)).as("b"),
          (pmod(col("id"), lit(3L)) + 1L).as("w"))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"),
          (pmod(col("id"), lit(3L)) + 1L).as("w"))
        val e = ring.union(tails)
        val edges = e.select(col("a").as("src"), col("b").as("dst"),
            col("w"))
          .union(e.select(col("b").as("src"), col("a").as("dst"),
            col("w")))
        val labels = spark.range(n).select(col("id").as("node"),
          pmod(col("id"), lit(2L)).as("label"))
        val r = graft.queries.GraphOps.modularityWOn(edges, labels)
          .collect()(0)
        require(r.getAs[Long]("n_comms") == 2L,
          s"parity communities drifted at n=$n: $r")
        n
      }
      // q_graph_refine's per-move cost (r18 newcomer): 2 argmax moves
      // on the planted ring+tails graph from the parity start. Claim:
      // each move is ONE edges-shuffle scoring pass (labels join +
      // per-(node, target) agg) + a 1-row argmax — time/shuffle ≲
      // linear in edges at ×10, rounds bounded; truth: Q never
      // decreases across the pass (the in-unit law, held at scale).
      if (want("refine_move")) time("refine_move", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
          pmod(col("id") + 1L, lit(m)).as("b"))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"))
        val edges = sym(ring.union(tails))
        val labels = spark.range(n).select(col("id").as("node"),
          pmod(col("id"), lit(2L)).as("label"))
        val q0 = graft.queries.GraphOps.modularityOn(edges, labels)
          .collect()(0).getAs[Long]("q_micro")
        val refined = graft.queries.GraphOps.refineOn(edges, labels, 2)
        val q1 = graft.queries.GraphOps.modularityOn(edges, refined)
          .collect()(0).getAs[Long]("q_micro")
        require(q1 >= q0, s"Q decreased at n=$n: $q0 -> $q1")
        n
      }
      // The fully-weighted loop's newcomers (r19): the SAME planted
      // shapes as labelprop_flat / refine_move with an integer weight
      // riding every edge. Claims: runW ≡ run's per-round join +
      // two-agg shape with the count swapped for a weight sum (zero
      // extra shuffles — time within the unweighted curve's band);
      // refineWOn ≡ refineOn's per-move scoring pass (the
      // modularityw_fold precedent: weight sums add no exchange).
      // Truths: labelprop_w over n/2 disjoint weighted pairs emits one
      // label per node (out = n); weighted refine never lowers Q_w.
      if (want("labelpropw_flat")) time("labelpropw_flat", n) {
        val ew = pairEdges(n)
          .withColumn("w", pmod(col("a"), lit(5L)) + 1L)
        val g = ew.select(col("a").as("src"), col("b").as("dst"), col("w"))
          .union(ew.select(col("b").as("src"), col("a").as("dst"),
            col("w")))
        graft.operators.LabelProp.runW(g, 3).count()
      }
      if (want("refinew_move")) time("refinew_move", n) {
        val m = n / 100L
        val ring = spark.range(m).select(col("id").as("a"),
          pmod(col("id") + 1L, lit(m)).as("b"))
        val tails = spark.range(m, n).select(col("id").as("a"),
          pmod(col("id"), lit(m)).as("b"))
        val und = ring.union(tails)
          .withColumn("w", pmod(col("a"), lit(5L)) + 1L)
        val edges = und
          .select(col("a").as("src"), col("b").as("dst"), col("w"))
          .union(und.select(col("b").as("src"), col("a").as("dst"),
            col("w")))
        val labels = spark.range(n).select(col("id").as("node"),
          pmod(col("id"), lit(2L)).as("label"))
        val q0 = graft.queries.GraphOps.modularityWOn(edges, labels)
          .collect()(0).getAs[Long]("q_micro")
        val refined = graft.queries.GraphOps.refineWOn(edges, labels, 2)
        val q1 = graft.queries.GraphOps.modularityWOn(edges, refined)
          .collect()(0).getAs[Long]("q_micro")
        require(q1 >= q0, s"Q_w decreased at n=$n: $q0 -> $q1")
        n
      }
      // q_graph_kbfs's multi-seed relaxation (r18 newcomer) on the
      // bfs_hops star-of-stars with TWO seeds (the root hub + one mid
      // hub) in one plan. Claim: per-round cost ∝ seeds·edges incident
      // to the reached sets, same fused driver actions as one seed —
      // ×10 ≲ linear; truth: the root's histogram is the exact
      // (1, m, n−1−m) plant and BOTH seeds reach all n nodes within
      // the cap.
      if (want("kbfs_hops")) time("kbfs_hops", n) {
        val m = n / 1000L
        val mids = spark.range(1L, m + 1).select(lit(0L).as("a"),
          col("id").as("b"))
        val leaves = spark.range(m + 1, n).select(
          (pmod(col("id"), lit(m)) + 1L).as("a"), col("id").as("b"))
        val seeds = Seq((0L, 0L), (1L, 1L)).toDF("seed", "node")
        val out = graft.operators.Bfs
          .hopsFrom(sym(mids.union(leaves)), seeds, 4)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        require(out((0L, 0L)) == 1L && out((0L, 1L)) == m &&
          out((0L, 2L)) == n - 1 - m,
          s"root histogram drifted at n=$n: $out")
        Seq(0L, 1L).foreach { s =>
          val reach = out.collect { case ((`s`, _), c) => c }.sum
          require(reach == n, s"seed $s reached $reach of $n at n=$n")
        }
        n
      }
      if (want("srcsim_exact")) time("srcsim_exact", n) {
        val srcDocs = spark.range(n).select(
          col("id").as("doc_id"),
          concat(lit("s"), pmod(col("id"), lit(20L))).as("source"),
          concat_ws(" ",
            (Seq(lit("hot"), lit("hot"), lit("hot")) ++
              (1 to 6).map(j => concat(lit("w"),
                pmod(xxhash64(col("id") * 16L + j), lit(n))))): _*)
            .as("text"))
        val ss = Scope.eager(srcDocs
          .withColumn("tk", split(col("text"), " "))
          .select(col("source"), explode(
            graft.queries.LlmOps.shinglesCol(col("tk"))).as("sh"))
          .distinct()) // both self-join sides read it
        val inter = ss
          .join(ss.select(col("source").as("sb"), col("sh").as("sh2")),
            col("sh") === col("sh2") && col("source") < col("sb"))
          .groupBy(col("source"), col("sb"))
          .agg(count(lit(1)).as("n_inter"))
          .collect()
        Scope.release(ss)
        require(inter.length == 190
            && inter.forall(_.getAs[Long]("n_inter") >= 1L),
          s"srcsim exact-audit bound violated at n=$n: ${inter.length} pairs")
        inter.length.toLong
      }
      // q_event_amsjoin's sketch vs exact on a planted uniform join
      // (r17, verdict item 5): K = n/100 keys, 100 copies per key in
      // A, 10 in B (B = n/10 rows) ⟹ exact join size = K·100·10 = 10n.
      // Claims: the SKETCH side is two map-side-combining global aggs
      // to 8 longs each — cost flat-ish, shuffle ~constant at ×10;
      // the exact audit is hash aggs ∝ distinct keys (linear). The
      // md5 signs are fixed ⟹ the estimate is deterministic per n;
      // the recorded ratio band (estimator relative std ≈ 0.5 at 8
      // rows on uniform keys) is the honest AMS variance.
      if (want("amsjoin")) time("amsjoin", n) {
        val k = n / 100L
        val a = spark.range(n).select(pmod(col("id"), lit(k)).as("k"))
        val b = spark.range(n / 10L).select(pmod(col("id"), lit(k)).as("k"))
        val r = graft.queries.Aggregates.amsJoinOn(a, b).collect()(0)
        require(r.getAs[Long]("join_exact") == 10L * n,
          s"planted exact join size wrong at n=$n: $r")
        val ratio = r.getAs[Double]("est_ratio")
        require(ratio > 0.05 && ratio < 5.0,
          s"AMS estimate implausible at n=$n: $r")
        n
      }
      // DSIR scoring (r13, same verdict item): the EXACT graded path
      // (PipelineOps.dsirOn) on the synthetic corpus with a 5-way lang
      // mix (L0 is the target). Claim: the shingle stream persists
      // once; both histograms collapse map-side to ≤ B=1024 rows; the
      // per-doc score shuffles ∝ docs; top-k is a Limit — so shuffle
      // grows ∝ docs, NEVER ∝ shingles.
      // noop-written; round-robin repartition first: spark.range
      // carries RangePartitioning(id), which SATISFIES the doc-keyed
      // clustering (equal ids co-located), so without the break the
      // per-doc score agg pays NO exchange — a freebie the graded
      // parquet scan (UnknownPartitioning) never gets (measured: 0.0 MB
      // score-stage shuffle at 600k with the freebie; the honest probe
      // must model the scan)
      if (want("dsir_score")) time("dsir_score", n) {
        noop(graft.queries.PipelineOps.dsirOn(
          synthDocs(n).repartition(32).withColumn("lang",
            concat(lit("L"), pmod(col("doc_id"), lit(5L))))))
      }
      // Collocation lift (r13, same verdict item): the EXACT graded
      // path (TextOps.collocOn) on the synthetic corpus. The 14
      // vocabulary tokens per doc give an n-sized bigram vocabulary
      // with planted repeats (even/odd near-copies repeat 13 of 15
      // bigrams), so the bigram agg's map-side combine has real work.
      // Claim: shuffle ∝ bigram vocab (not corpus bigrams), top-k is
      // TakeOrdered.
      if (want("colloc_lift")) time("colloc_lift", n) {
        noop(graft.queries.TextOps.collocOn(synthDocs(n)))
      }
      if (want("bloom_screen_bp8")) time("bloom_screen_bp8", n) {
        val corpus = bloomCorpus
        val survivors = graft.operators.ScaleOps
          .bloomPrefilter(corpus, "h0", bloomBatch(100L), "h", n, 0.01,
            buildPartitions = 8)
          .filter(coalesce(col("might_match"), lit(false)))
          .select(col("doc_id"), col("h"))
        val found = corpus
          .join(survivors.select(col("h").as("hs")), col("h0") === col("hs"))
          .select(col("hs").as("hf")).distinct()
        survivors.join(found, col("h") === col("hf"), "left_semi").count()
      }
    }

    // Session family (r12, verdict item 5 — the one graded family with
    // no rehearsal row). Synthetic log: n/50 users × 50 events each, ts
    // stepped 20 min with a 2h jump every 5th step (≈10 sessions/user)
    // plus ≤1 min hash jitter; 3-type mix; hash values. Probes drive
    // the EXACT graded code paths (EventOps.sessionFunnelOn /
    // retentionOn, StreamOps.session) on 10×/100× sf0.1's event count.
    // Claims: the sessionizer pays ONE user-hash exchange (shuffle ∝
    // events, once) and per-user sort state only; the funnel's joins
    // run ∝ sessions after it; retention collapses to distinct
    // (user, hour) BEFORE its cohort join so its shuffle is ∝ distinct
    // pairs, ~flat in events per active hour. noop-written (count()
    // would prune the value/aggregate columns).
    def synthEvents(n: Long) = {
      val u = n / 50L
      val step = expr(s"id div $u") // integer event index within the user
      spark.range(n).select(
        col("id").as("event_id"),
        pmod(col("id"), lit(u)).as("user_id"),
        timestamp_micros(lit(1700000000000000L)
          + step * 1200000000L
          + expr(s"(id div $u) div 5") * 7200000000L
          + pmod(xxhash64(col("id")), lit(60000000L))).as("ts"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase")),
          (pmod(xxhash64(concat(lit("t"), col("id"))), lit(3L)) + 1)
            .cast("int")).as("event_type"),
        (pmod(xxhash64(concat(lit("v"), col("id"))), lit(10000L))
          .cast("double") / 100.0).as("value"))
    }
    Seq(6000000L, 60000000L).foreach { n =>
      if (want("session_agg")) time("session_agg", n) {
        noop(graft.streaming.StreamOps.session(synthEvents(n)))
      }
      if (want("session_topk")) time("session_topk", n) {
        // the q_session_topk shape: session agg → day-partitioned
        // rank ≤ 3 (WindowGroupLimit)
        val rw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("day")).orderBy(col("val").desc,
            col("session_start").asc, col("user_id").asc)
        noop(graft.streaming.StreamOps.session(synthEvents(n))
          .withColumn("day", date_trunc("day", col("session_start")))
          .withColumn("rk", row_number().over(rw))
          .filter(col("rk") <= 3))
      }
      if (want("session_funnel")) time("session_funnel", n) {
        noop(graft.queries.EventOps.sessionFunnelOn(synthEvents(n)))
      }
      if (want("retention_join")) time("retention_join", n) {
        noop(graft.queries.EventOps.retentionOn(synthEvents(n), 3))
      }
      // As-of engine A/B (r13): the facade's single-scan windowed
      // as-of vs the join+rank plan it replaces, on an n/10-left ×
      // 9n/10-right split of the same synthetic log (clicks enrich
      // purchases — the graded q_join_asof economics at rehearsal
      // sizes). The windowed form sorts 2 streams once per key; the
      // join+rank form materializes every (left, right-before) pair
      // and ranks them — candidates ∝ Σ per-key L·R. Round-robin
      // repartition breaks the range-source co-location freebie (the
      // dsir probe note).
      def asofSides(ev: org.apache.spark.sql.DataFrame) = (
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") =!= "purchase"))
      if (want("asof_window")) time("asof_window", n) {
        val (p, c) = asofSides(synthEvents(n).repartition(32))
        noop(Graft.asofJoin(p, c, "user_id", "ts", "event_id",
          "ts", "event_id"))
      }
      if (want("asof_joinrank")) time("asof_joinrank", n) {
        val (p, c) = asofSides(synthEvents(n).repartition(32))
        val l = p.select(col("user_id").as("k"), col("event_id").as("lid"),
          unix_micros(col("ts")).as("l_us"))
        val r = c.select(col("user_id").as("rk"), col("event_id").as("rid"),
          unix_micros(col("ts")).as("r_us"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lid"))
          .orderBy(col("r_us").desc, col("rid").desc)
        noop(l.join(r, col("k") === col("rk") && col("r_us") <= col("l_us"),
            "left")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1))
      }
      // Hot-key variant of the as-of A/B (6M only — the joinrank side
      // is ∝ Σ per-key L·R, which is the POINT): every 120th user
      // collapses onto key 0, so ONE key holds ~50k events (≈17k lefts
      // × 33k rights ≈ 5·10⁸ candidate pairs for that key) while the
      // windowed form still sorts its 50k rows once. The uniform A/B
      // above shows the two plans near parity when per-key products
      // are bounded; THIS pair shows why the windowed form is the
      // engine: skew breaks the join+rank, not the window.
      if (n <= 6000000L) {
        def hotEvents = synthEvents(n).repartition(32)
          .withColumn("user_id",
            when(pmod(col("user_id"), lit(120L)) === 0, 0L)
              .otherwise(col("user_id")))
        if (want("asofhot_window")) time("asofhot_window", n) {
          val (p, c) = asofSides(hotEvents)
          noop(Graft.asofJoin(p, c, "user_id", "ts", "event_id",
            "ts", "event_id"))
        }
        if (want("asofhot_joinrank")) time("asofhot_joinrank", n) {
          val (p, c) = asofSides(hotEvents)
          val l = p.select(col("user_id").as("k"), col("event_id").as("lid"),
            unix_micros(col("ts")).as("l_us"))
          val r = c.select(col("user_id").as("rk"), col("event_id").as("rid"),
            unix_micros(col("ts")).as("r_us"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("lid"))
            .orderBy(col("r_us").desc, col("rid").desc)
          noop(l.join(r, col("k") === col("rk") && col("r_us") <= col("l_us"),
              "left")
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1))
        }
      }
      // 10⁶-EVENT hot key (r15, ADVICE 7): the asof/PIT skew ceiling.
      // At 6M events every 6th user collapses onto key 0 → ONE key
      // holds 1M events. The joinrank plan's per-key L·R product is
      // ~10¹¹ candidate pairs — unpayable, omitted by design (the 50k
      // A/B above already shows the blowup shape). The windowed engine
      // pays ONE 10⁶-row sorted spill-safe pass for that key; expect
      // secs within small-multiple of the uniform asof_window at the
      // same n, shuffle ∝ rows. Same rehearsal for the PIT lookup
      // (scd2-compact + interleave window — q_event_pit's engine).
      if (n == 6000000L) {
        def hot1m = synthEvents(n).repartition(32)
          .withColumn("user_id",
            when(pmod(col("user_id"), lit(6L)) === 0, 0L)
              .otherwise(col("user_id")))
        if (want("asofhot1m_window")) time("asofhot1m_window", n) {
          val (p, c) = asofSides(hot1m)
          noop(Graft.asofJoin(p, c, "user_id", "ts", "event_id",
            "ts", "event_id"))
        }
        if (want("pithot1m_window")) time("pithot1m_window", n) {
          val ev = hot1m
          noop(graft.queries.EventOps.pitOn(
            ev.filter(col("event_type") === "purchase"),
            ev.filter(col("event_type") =!= "purchase")))
        }
      }
      // Trailing event-time rolling aggregate (r13): the
      // q_win_timerange engine via Graft.trailingAgg — one key
      // exchange, O(rows) two-pointer frame state. Expect secs ∝ rows,
      // shuffle ∝ rows (the event stream itself), never a pair
      // expansion.
      if (want("trailing_agg")) time("trailing_agg", n) {
        noop(Graft.trailingAgg(synthEvents(n).repartition(32),
          "user_id", "ts", "value", 3600000000L))
      }
      // r14 event newcomers (6M/60M — cheap agg shapes): survival =
      // per-user agg → lifetime agg → bounded window (expect ∝ rows,
      // shuffle ∝ users); powerlaw = two stacked aggs. Planted truth:
      // every synthetic user has the same 50-event history → EXACTLY
      // ONE output row each. repartition(32) breaks range's clustering
      // freebie (the r13 honesty note).
      if (want("survival")) time("survival", n) {
        graft.queries.EventOps.survivalOn(synthEvents(n).repartition(32))
          .count()
      }
      if (want("powerlaw")) time("powerlaw", n) {
        graft.queries.EventOps.powerlawOn(synthEvents(n).repartition(32))
          .count()
      }
    }

    sizes.foreach { n =>
      val df = synth(n)
      if (want("pct_engine")) time("pct_engine", n) {
        graft.operators.Percentiles.cont(df, Seq("st"), "price",
          Seq(0.5 -> "p50", 0.9 -> "p90")).count()
      }
      if (want("pct_select")) time("pct_select", n) {
        // the r9 distributed-selection variant built FROM this
        // harness's finding — parallelism groups × partitions
        graft.operators.Percentiles.contSelect(df, Seq("st"), "price",
          Seq(0.5 -> "p50", 0.9 -> "p90")).count()
      }
      if (want("pct_native")) time("pct_native", n) {
        // the refused plan, for contrast — buffers n/3 doubles per
        // group in a no-spill ObjectHashAggregate buffer
        df.groupBy(col("st"))
          .agg(expr("percentile(price, array(0.5, 0.9))").as("ps")).count()
      }
      if (want("topk_group")) time("topk_group", n) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("st")).orderBy(col("price").desc)
        df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3).count()
      }
      // Winsorized mean (late r10): rides the disc cut pass (∝ distinct
      // prices) + a 3-row broadcast + a map-only clip agg — expectation
      // is pct_engine's curve plus a linear term, never a second
      // value-domain shuffle.
      if (want("winsor")) time("winsor", n) {
        graft.operators.Percentiles.winsorizedMean(df, Seq("st"), "price")
          .count()
      }
      // Sketch-prescreened exact top-K (late r10) vs the plain
      // vocabulary agg + TakeOrdered it replaces, on a skewed corpus:
      // ~n/20 hot tokens (zipf-ish: token j of 1000 hits ∝ rank) over
      // an n/4-sized cold vocabulary. The claim bought by the sketch:
      // candidate exact counts touch k·partitions + candidate postings,
      // never a full-vocabulary-wide second pass; the plain form's agg
      // shuffles EVERY distinct token's partial counts. The honest
      // caveat measured here: both forms' FIRST agg shuffles ∝
      // distinct tokens — the sketch's win is the broadcast semi join
      // replacing the global TakeOrdered over the vocabulary table.
      def skewTokens = spark.range(n).select(
        when(pmod(col("id"), lit(4L)) === 0,
          concat(lit("hot"), pmod(xxhash64(col("id")), lit(100L))))
          .otherwise(concat(lit("cold"), pmod(xxhash64(col("id")), lit(n / 4L))))
          .as("tok"))
      if (want("hh_sketch")) time("hh_sketch", n) {
        Graft.topKFrequent(skewTokens, "tok", topK = 10, k = 4000).count()
      }
      if (want("hh_plain")) time("hh_plain", n) {
        skewTokens.groupBy(col("tok")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc).limit(10).count()
      }
      // Drift family (r11, verdict item 8): the family's 100-TB claim
      // is "the corpus collapses to its DISTINCT (group, value) domain
      // BEFORE any window — shuffle ∝ value domain, never rows". Probe:
      // n rows over 5 langs × a 5,000-value bounded domain (the n_chars
      // shape), hash-split side flag. The load-bearing number is
      // shuffle_mb staying ~FLAT as rows grow 100× (the domain doesn't
      // grow); secs grow ~linearly with the scan + map-side partials.
      // chisq collapses further (5 × 20 contingency cells). noop-written,
      // NOT counted: count() prunes every non-grouping column, so a
      // counted probe measures only distinct(lang) — the statistic's
      // windows and sums never execute (the §5 gotcha; first observed
      // HERE as an all-zeros shuffle_mb column).
      def driftRows = spark.range(n).select(
        concat(lit("L"), pmod(col("id"), lit(5L))).as("lang"),
        pmod(xxhash64(col("id")), lit(5000L)).as("len"),
        (pmod(xxhash64(concat(lit("s:"), col("id"))), lit(10L)) < 8)
          .as("is_a"))
      if (want("drift_ks")) time("drift_ks", n) {
        noop(graft.operators.Drift
          .ksDrift(driftRows, Seq("lang"), "len", col("is_a")))
      }
      if (want("drift_emd")) time("drift_emd", n) {
        noop(graft.operators.Drift
          .emdDrift(driftRows, Seq("lang"), "len", col("is_a")))
      }
      if (want("drift_tv")) time("drift_tv", n) {
        noop(graft.operators.Drift
          .tvDrift(driftRows, Seq("lang"), "len", col("is_a")))
      }
      if (want("drift_chisq")) time("drift_chisq", n) {
        noop(graft.operators.Drift.chiSquared(
          spark.range(n).select(
            concat(lit("L"), pmod(col("id"), lit(5L))).as("la"),
            concat(lit("s"), pmod(xxhash64(col("id")), lit(20L))).as("sb")),
          "la", "sb"))
      }
      // Deterministic training-order shuffle (late r10): one hash
      // exchange + per-partition sort vs the global range sort by the
      // same random-looking key (sampling pass + range exchange + full
      // sort) a naive ORDER BY hash would plan. noop-written, not
      // counted: EliminateSorts strips a global ORDER BY under count()
      // and the probe would measure nothing (the §5 gotcha).
      if (want("shuffle_order")) time("shuffle_order", n) {
        noop(Graft.shuffleOrder(spark.range(n).select(col("id")), "id", 1024))
      }
      if (want("shuffle_sort")) time("shuffle_sort", n) {
        noop(spark.range(n).select(col("id"),
            xxhash64(concat(lit("ep1:"), col("id"))).as("hk"))
          .orderBy(col("hk"), col("id")))
      }
      // Mahalanobis top-3 (r13, verdict item 6): the EXACT graded path
      // (Aggregates.mahalOn) on the synth rows renamed to the lineitem
      // shape (price/qty correlated via the shared id hash is fine —
      // cost, not answers, is under test; (st, id, id) keeps the
      // rank-tiebreak columns unique). Claims: ONE distributive stats
      // agg to 3 rows broadcast back; d² is a pure map; the rk ≤ 3
      // filter plans as WindowGroupLimit so the window exchange ships
      // ≤ 3 rows per map partition — shuffle ~FLAT as rows grow 100×.
      if (want("mahal_top3")) time("mahal_top3", n) {
        graft.queries.Aggregates.mahalOn(
          spark.range(n).select(
            concat(lit("S"), pmod(col("id"), lit(3L))).as("l_returnflag"),
            col("id").as("l_orderkey"),
            lit(1).as("l_linenumber"),
            (pmod(col("id"), lit(50L)) + 1L).cast("double").as("l_quantity"),
            ((abs(xxhash64(col("id"))) % 100000000L).cast("double") / 100.0)
              .as("l_extendedprice"))).count()
      }
      // Quantile sketch vs exact engine (r13, verdict item 4's
      // rehearsal row): operators.QuantileSketch at k=200 on the same
      // (st, price) rows the pct_* probes use — same three quantiles.
      // The load-bearing number is shuffle_mb: the sketch ships ONLY
      // the per-partition coresets (k·log(n/k)·partitions rows at any
      // input size) where pct_engine's first agg shuffles the distinct
      // value domain. secs should track the scan.
      if (want("sk_quantile")) time("sk_quantile", n) {
        graft.operators.QuantileSketch.quantiles(
          df.select(col("price")), 200, Seq(0.25, 0.5, 0.9)).count()
      }
    }

    // Edit-dedup mega-band (r15, ADVICE 2): ONE (lang, source, length-
    // band) group of g docs — the adversarial shape for the banded DP
    // (candidates = g(g−1)∕2, no content prefilter can save a shared-
    // vocab band: the measured L1 prescreen prunes 3.1% at sf0.1).
    // 96-char md5-hex texts, all in band len∕64 = 1. Expect: uncapped
    // secs ∝ g² (the honest quadratic); capped at 1000 the candidate
    // count — and the cost — goes FLAT as g grows 10×, with the
    // overflow audit counting the g−1000 dropped docs. This is the
    // protection q_llm_editdup ships with (EditDupBandCap = 2000).
    def synthBand(g: Long) = spark.range(g).select(
      col("id").as("doc_id"),
      concat_ws("", transform(sequence(lit(1), lit(12)),
        i => substring(md5(concat(col("id"), lit("#"), i)), 1, 8))).as("text"),
      lit("en").as("lang"), lit("web").as("source"))
    Seq(1000L, 2000L, 4000L).foreach { g =>
      if (want("editdup_megaband_uncap")) time("editdup_megaband_uncap", g) {
        graft.queries.LlmOps.editDupPairsOn(synthBand(g),
          Seq("lang", "source"), 64, bandCap = Int.MaxValue).count()
      }
    }
    Seq(4000L, 40000L).foreach { g =>
      if (want("editdup_megaband_cap1k")) time("editdup_megaband_cap1k", g) {
        graft.queries.LlmOps.editDupPairsOn(synthBand(g),
          Seq("lang", "source"), 64, bandCap = 1000).count()
      }
    }
    spark.stop()
  }
}
