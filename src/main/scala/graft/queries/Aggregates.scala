package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Scope, Tables => T}

/** SURVEY §2.4 aggregations, §2.6 sort/limit/top-k, §2.7 set ops.
  *
  * Scale notes: every groupBy here is a hash aggregate with map-side
  * partial aggregation (HashAggregateExec partial → Exchange → final), so
  * shuffle volume is proportional to group cardinality, not input rows.
  * Top-k-per-group uses row_number + filter, which Spark 4 plans with
  * WindowGroupLimitExec (per-partition top-k before the shuffle). Global
  * sorts are range-partitioned (sampled boundaries), which scales linearly.
  */
object Aggregates {
  type Q = (SparkSession, String) => DataFrame
  import Det.{dsum, davg, sqlSum, sqlAvg, tbl}

  val queries: Map[String, Q] = Map(
    // §2.4 global aggregate, single row.
    "q_agg_global" -> ((s, d) =>
      T.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        davg(col("l_extendedprice")).as("avg_price"),
        countDistinct(col("l_orderkey")).as("n_orders"))),

    // §2.4 TPC-H Q1 shape — the flagship (also SparkEntry.entry).
    "q_agg_group" -> ((s, d) => aggGroup(s, d)),

    // §2.4 distinct aggregate alongside plain count.
    "q_agg_distinct" -> ((s, d) =>
      T.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),

    // §2.4 Pearson correlation per group, computed from EXACT decimal
    // moment sums (never the native corr(), whose running-merge float
    // order differs per engine/partitioning): Sx/Sy/Sxx/Syy/Sxy are
    // exact decimals (2dp inputs → ≤4dp products, both engines sum
    // exactly), each is cast to double once, and the closed form
    //   (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²))
    // is a PINNED sequence of IEEE ops (sqrt is correctly rounded per
    // IEEE-754) → identical doubles, rounded once at 6dp (§7.4 #2).
    "q_agg_corr" -> ((s, d) => {
      // Input precisions sized so decimal PRODUCTS stay in range in
      // both engines (DuckDB overflows DECIMAL(18,4)×DECIMAL(18,4)):
      // qty ≤ 50.00 → (9,2); price 2dp ≤ ~1e6 → (12,2). Products are
      // ≤4dp exacts at (18..24,4) — no boundary, no overflow.
      val qty = col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(9, 2))
      val price = col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))
      val g = T.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(qty).as("sx"), sum(price).as("sy"),
        sum(qty * qty).as("sxx"), sum(price * price).as("syy"),
        sum(qty * price).as("sxy"))
      def dbl(c: String) = col(c).cast("double")
      val nD = col("n").cast("double")
      val num = nD * dbl("sxy") - dbl("sx") * dbl("sy")
      val den = sqrt(nD * dbl("sxx") - dbl("sx") * dbl("sx")) *
        sqrt(nD * dbl("syy") - dbl("sy") * dbl("sy"))
      g.select(col("l_returnflag"), col("n"),
        round(num / den, 6).as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    }),

    // §2.4 least-squares regression (r10) — q_agg_corr's sibling on
    // the SAME exact-decimal power sums: price = slope·qty + intercept
    // per returnflag, with R². One distributive agg (map-side combine,
    // shuffle ∝ groups); the sums are exact decimals, the statistics a
    // deterministic IEEE chain off them (products/divisions only), 6dp.
    // Zero-variance groups → NULL slope/intercept/r2, never x/0.
    "q_agg_regr" -> ((s, d) => {
      val qty = col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(9, 2))
      val price = col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))
      val g = T.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(qty).as("sx"), sum(price).as("sy"),
        sum(qty * qty).as("sxx"), sum(price * price).as("syy"),
        sum(qty * price).as("sxy"))
      def dbl(c: String) = col(c).cast("double")
      val nD = col("n").cast("double")
      val a = nD * dbl("sxy") - dbl("sx") * dbl("sy")
      val b = nD * dbl("sxx") - dbl("sx") * dbl("sx")
      val c2 = nD * dbl("syy") - dbl("sy") * dbl("sy")
      g.select(col("l_returnflag"),
        when(b =!= 0.0, round(a / b, 6)).as("slope"),
        when(b =!= 0.0,
          round((dbl("sy") - (a / b) * dbl("sx")) / nD, 6)).as("intercept"),
        when(b =!= 0.0 && c2 =!= 0.0,
          round((a * a) / (b * c2), 6)).as("r2"),
        col("n"))
        .orderBy(col("l_returnflag"))
    }),

    // §2.4 TWO-regressor least squares (r12) — the multivariate step
    // past q_agg_regr: price = b0 + b1·qty + b2·disc per returnflag,
    // closed-form normal equations over centered second-moment sums
    // (S11·S22 − S12² determinant solve — no iteration, no matrix
    // library), plus R². Same engine discipline: ONE distributive agg
    // of 9 exact decimal sums (map-side combine, shuffle ∝ groups;
    // precisions sized so every decimal product fits both engines),
    // then a pinned IEEE chain (products/divisions only — the S/det/b
    // intermediates are each computed ONCE per engine in matching CTE
    // stages so the op trees stay textually identical), 6dp. Singular
    // design (det = 0) or zero y-variance → NULL coefficients/R².
    "q_agg_regr2" -> ((s, d) => {
      val DT = org.apache.spark.sql.types.DecimalType
      val x1 = col("l_quantity").cast(DT(9, 2))
      val x2 = col("l_discount").cast(DT(8, 4))
      val y = col("l_extendedprice").cast(DT(12, 2))
      val g = T.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
        sum(x1 * x1).as("s11"), sum(x2 * x2).as("s22"),
        sum(x1 * x2).as("s12"),
        sum(x1 * y).as("s1y"), sum(x2 * y).as("s2y"),
        sum(y * y).as("syy"))
      def dbl(c: String) = col(c).cast("double")
      val nD = col("n").cast("double")
      // centered sums — each ONCE, mirroring the oracle's s CTE
      val c1 = g.select(col("l_returnflag"), col("n"), nD.as("nd"),
        dbl("s1").as("s1"), dbl("s2").as("s2"), dbl("sy").as("sy"),
        (nD * dbl("s11") - dbl("s1") * dbl("s1")).as("c11"),
        (nD * dbl("s22") - dbl("s2") * dbl("s2")).as("c22"),
        (nD * dbl("s12") - dbl("s1") * dbl("s2")).as("c12"),
        (nD * dbl("s1y") - dbl("s1") * dbl("sy")).as("c1y"),
        (nD * dbl("s2y") - dbl("s2") * dbl("sy")).as("c2y"),
        (nD * dbl("syy") - dbl("sy") * dbl("sy")).as("cyy"))
      val c2 = c1.withColumn("det",
          col("c11") * col("c22") - col("c12") * col("c12"))
        .withColumn("b1",
          (col("c22") * col("c1y") - col("c12") * col("c2y")) / col("det"))
        .withColumn("b2",
          (col("c11") * col("c2y") - col("c12") * col("c1y")) / col("det"))
      c2.select(col("l_returnflag"), col("n"),
          when(col("det") =!= 0.0, round(col("b1"), 6)).as("b_qty"),
          when(col("det") =!= 0.0, round(col("b2"), 6)).as("b_disc"),
          when(col("det") =!= 0.0,
            round((col("sy") - col("b1") * col("s1")
              - col("b2") * col("s2")) / col("nd"), 6)).as("intercept"),
          when(col("det") =!= 0.0 && col("cyy") =!= 0.0,
            round((col("b1") * col("c1y") + col("b2") * col("c2y"))
              / col("cyy"), 6)).as("r2"))
        .orderBy(col("l_returnflag"))
    }),

    // §2.4 Mahalanobis outliers (r12) — MULTIVARIATE outlier detection,
    // the covariance-aware step past q_event_zscore's univariate flag
    // and q_llm_outlier's embedding distance: per returnflag, the top-3
    // (qty, price) rows by squared Mahalanobis distance
    //   d² = n²·(c22·dx² − 2·c12·dx·dy + c11·dy²) ∕ (c11·c22 − c12²)
    // using the SAME exact centered sums as q_agg_regr2 (a correlated
    // pair can be individually unremarkable yet jointly impossible —
    // the case per-column z-scores cannot see). Scale: one distributive
    // agg to |groups| stat rows → BROADCAST join-back → pure map d² per
    // row (pinned IEEE chain off exact sums) → top-3 per group as
    // WindowGroupLimit (per-partition heaps — never a full sort);
    // ranking on the UNROUNDED d² (identical doubles both engines),
    // ties total via (orderkey, linenumber); 6dp at output only.
    // Degenerate covariance (det = 0) → NULL d², sinks below every
    // real distance (desc ⇒ NULLS LAST on both engines).
    "q_agg_mahal" -> ((s, d) => mahalOn(T.lineitem(s, d))),

    // §2.4 ordered string aggregation (LISTAGG surface). collect_set's
    // arrival order is nondeterministic — array_sort canonicalizes
    // before the join, so the result is layout-independent; the oracle's
    // string_agg(... ORDER BY) pins the identical order.
    "q_agg_listagg" -> ((s, d) =>
      T.nation(s, d)
        .join(broadcast(T.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_set(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy(col("r_name"))),

    // §2.4 modal value (MODE surface) with deterministic tiebreak:
    // per order priority, the most frequent status, ties → lexicographic
    // first. min(struct(-cnt, status)) keeps it ONE map-side-combining
    // aggregate chain (never the native mode(), whose tiebreak is
    // unspecified, and no key-partitioned window).
    "q_agg_mode" -> ((s, d) =>
      T.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("o_orderpriority"))
        .agg(min(struct((-col("cnt")).as("neg"), col("o_orderstatus"))).as("m"))
        .select(col("o_orderpriority"),
          col("m.o_orderstatus").as("modal_status"),
          (-col("m.neg")).as("cnt"))
        .orderBy(col("o_orderpriority"))),

    // §2.4 row-level DISTINCT.
    "q_distinct" -> ((s, d) =>
      T.customer(s, d).select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey"))),

    // §2.4 ROLLUP(r_name, n_name) over region⋈nation⋈customer with
    // GROUPING flags. NULLS FIRST is explicit in both engines (their
    // defaults differ — Spark ASC=nulls first, DuckDB ASC=nulls last).
    "q_agg_rollup" -> ((s, d) => {
      val df = T.customer(s, d)
        .join(broadcast(T.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      df.rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal")).as("sum_bal"),
          grouping(col("r_name")).cast("int").as("g_r"),
          grouping(col("n_name")).cast("int").as("g_n"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    // §2.4 CUBE(o_orderpriority, o_orderstatus).
    "q_agg_cube" -> ((s, d) =>
      T.orders(s, d).cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"),
          grouping(col("o_orderpriority")).cast("int").as("g_p"),
          grouping(col("o_orderstatus")).cast("int").as("g_s"))
        .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("o_orderstatus"))),

    // §2.4 Herfindahl-Hirschman concentration index per market segment
    // (r15): HHI = Σᵢ (revᵢ∕Σrev)² over each segment's customers — the
    // antitrust-standard concentration measure (q_agg_gini's square-
    // share sibling; 1∕n uniform → 1 monopoly). Engine discipline: two
    // stacked exact-decimal aggs (per-customer revenue, then per-
    // segment Σrev² + Σrev — shuffle ∝ customers then segments), the
    // square at an explicit (18,2) cast so the (37,4) product is exact
    // in BOTH engines (an uncast square of the (22,2) sum would exceed
    // 38 digits and silently round scale). HHI is SCALE-FREE O(1) →
    // one IEEE division chain, 6dp absorbs ulp noise (the anova
    // lesson).
    "q_agg_hhi" -> ((s, d) => {
      val DT = org.apache.spark.sql.types.DecimalType
      val rev = T.orders(s, d)
        .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("c_custkey"))
        .agg(sum(col("o_totalprice").cast(DT(12, 2))).as("rev"))
        .select(col("c_mktsegment"),
          col("rev").cast(DT(18, 2)).as("rev"))
      val g = rev.groupBy(col("c_mktsegment")).agg(
        count(lit(1)).as("n_cust"),
        sum(col("rev")).as("s"),
        sum(col("rev") * col("rev")).as("s2"))
      g.select(col("c_mktsegment"), col("n_cust"),
        round(col("s2").cast("double")
          / (col("s").cast("double") * col("s").cast("double")), 6)
          .as("hhi"))
        .orderBy(col("c_mktsegment"))
    }),

    // §2.4 Spearman rank correlation per group (r15) — Pearson on
    // AVERAGE ranks, made exact-integer by the 2× trick: with ties,
    // avg-rank = (2·cum − cnt + 1)∕2 over the cumulative tie counts,
    // so DOUBLED avg-ranks are integers and Pearson's scale invariance
    // makes rho identical. Engine discipline (the Percentiles shape,
    // NEVER a per-row rank window over the fact table): rank tables
    // come from DISTINCT-VALUE collapses ((g,x) / (g,y) aggregates)
    // with a bounded cumulative window each; marginal power sums read
    // the rank tables ALONE (rank is a function of the value); only
    // the cross term joins the (g,x,y) pair aggregate back to the two
    // rank tables — shuffle ∝ distinct values/pairs, never rows. Sums
    // in DECIMAL(38,0) (the oracle uses HUGEINT) — both exact, one
    // cast to double, the q_agg_corr pinned chain, 6dp.
    "q_agg_spearman" -> ((s, d) => {
      val DT = org.apache.spark.sql.types.DecimalType
      // eager (r16, prophylactic per the r15 verdict): base has 3
      // readers (both rank collapses + the pair aggregate); lazy
      // persists race under concurrent AQE stages (Scope.eager's doc).
      // r22 restructure (guide §2.4 — fewer passes, same numbers):
      // every marginal power sum is computable from the JOINT pair
      // table once the rank columns ride it (Σ_x cnt·r_x ≡
      // Σ_{(x,y)} np·r_x, summed per (g, x) over y — identical exact
      // integer terms in the same decimal types, just grouped finer),
      // so the r15-r21 shape's two marginal aggregates, two rank-table
      // eager caches, and the three-way g-join of the readouts
      // collapse into ONE aggregate over the joined pair table. Each
      // rank table is now consumed exactly once — nothing to cache.
      val base = Scope.eager(
        T.lineitem(s, d).select(col("l_returnflag").as("g"),
          col("l_quantity").cast(DT(9, 2)).as("x"),
          col("l_extendedprice").cast(DT(12, 2)).as("y")))
      def ranks(c: String) = {
        val w = Window.partitionBy(col("g")).orderBy(col(c).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        base.groupBy(col("g"), col(c)).agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(w))
          .select(col("g"), col(c),
            (lit(2L) * col("cum") - col("cnt") + lit(1L))
              .cast(DT(18, 0)).as(s"r_$c"))
      }
      def cd(c: Column) = c.cast(DT(18, 0))
      val pairs = base.groupBy(col("g"), col("x"), col("y"))
        .agg(count(lit(1)).as("np"))
      val ps = pairs
        .join(ranks("x")
            .select(col("g").as("gx"), col("x").as("xx"), col("r_x")),
          col("g") === col("gx") && col("x") === col("xx"))
        .join(ranks("y")
            .select(col("g").as("gy"), col("y").as("yy"), col("r_y")),
          col("g") === col("gy") && col("y") === col("yy"))
        .groupBy(col("g"))
        .agg(
          sum(col("np")).as("n"),
          sum(cd(col("np")) * col("r_x")).as("sx"),
          sum(cd(col("np")) * col("r_x") * col("r_x")).as("sxx"),
          sum(cd(col("np")) * col("r_y")).as("sy"),
          sum(cd(col("np")) * col("r_y") * col("r_y")).as("syy"),
          sum(cd(col("np")) * col("r_x") * col("r_y")).as("sxy"))
      def dbl(c: String) = col(c).cast("double")
      val nD = col("n").cast("double")
      val num = nD * dbl("sxy") - dbl("sx") * dbl("sy")
      val den = sqrt(nD * dbl("sxx") - dbl("sx") * dbl("sx")) *
        sqrt(nD * dbl("syy") - dbl("sy") * dbl("sy"))
      ps.select(col("g").as("l_returnflag"), col("n"),
          round(num / den, 6).as("rho_qty_price"))
        .orderBy(col("l_returnflag"))
    }),

    // §2.4 one-way ANOVA (r15): does mean extendedprice differ across
    // the return flags? F = (SSB∕(k−1)) ∕ (SSW∕(N−k)) over the FIXED
    // 3-flag domain. Engine discipline: ONE conditional aggregate
    // (map-side combine, 1 output row — shuffle ∝ 1) of nine EXACT
    // decimal power sums, then a TEXTUALLY PINNED IEEE chain — the
    // per-group terms are pivoted to COLUMNS so the 3-term additions
    // associate left-to-right identically in both engines (a SUM over
    // group rows would add doubles in engine-chosen order). Output is
    // SCALE-FREE statistics only (F, η²=SSB∕SST — both O(1), where 6dp
    // truly absorbs ulp noise): the raw sums of squares are ~1e14 at
    // sf0.1, big enough that (a) round(·,6) is a no-op on them and
    // (b) the 22-digit Σx² decimals exceed the exact-double range, so
    // the two engines' DECIMAL→DOUBLE conversions can differ by 1 ulp
    // — caught by the sf0.1 sweep, §7.4's scale-dependent-boundary
    // lesson.
    "q_agg_anova" -> ((s, d) => {
      val DT = org.apache.spark.sql.types.DecimalType
      val price = col("l_extendedprice").cast(DT(12, 2))
      def nIf(f: String) = count(when(col("l_returnflag") === f, lit(1)))
      def sIf(f: String) = sum(when(col("l_returnflag") === f, price))
      def ssIf(f: String) =
        sum(when(col("l_returnflag") === f, price * price))
      val g = T.lineitem(s, d).agg(
        nIf("A").as("n_a"), nIf("N").as("n_n"), nIf("R").as("n_r"),
        sIf("A").as("s_a"), sIf("N").as("s_n"), sIf("R").as("s_r"),
        ssIf("A").as("ss_a"), ssIf("N").as("ss_n"), ssIf("R").as("ss_r"))
      def dbl(c: String) = col(c).cast("double")
      val n = (col("n_a") + col("n_n") + col("n_r")).cast("double")
      val sTot = (col("s_a") + col("s_n") + col("s_r")).cast("double")
      val ssTot = (col("ss_a") + col("ss_n") + col("ss_r")).cast("double")
      val ssb = (dbl("s_a") * dbl("s_a") / dbl("n_a")
        + dbl("s_n") * dbl("s_n") / dbl("n_n")
        + dbl("s_r") * dbl("s_r") / dbl("n_r")) - sTot * sTot / n
      val sst = ssTot - sTot * sTot / n
      val ssw = sst - ssb
      g.select((col("n_a") + col("n_n") + col("n_r")).as("n_rows"),
        round(ssb / sst, 6).as("eta_sq"),
        round((ssb / 2.0) / (ssw / (n - 3.0)), 6).as("f_stat"))
    }),

    // §2.4 Kruskal-Wallis H (r15) — the rank-based (nonparametric)
    // companion of q_agg_anova: does the l_quantity DISTRIBUTION
    // differ across the return flags, free of normality assumptions.
    // Tie-corrected H over global average ranks, made exact-integer by
    // the Spearman 2× trick (doubled avg-ranks are integers; group
    // rank sums R_i = S_i∕2 halve exactly in doubles). Engine
    // discipline: ONE value collapse (∝ distinct quantities — a FIXED
    // 50-value domain, SF-invariant) carrying per-flag conditional
    // counts, one bounded unpartitioned cumulative window over that
    // aggregate (§7.4.12), one global agg of exact DECIMAL(38,0)
    // sums (all < 2^53 — no big-decimal→double cast divergence, the
    // anova lesson), then a TEXTUALLY PINNED IEEE chain staged so the
    // unrounded H feeds ε² identically in both engines; 6dp once.
    // Near-zero rounded stats get + 0.0 in BOTH engines: round(−1e−9, 6)
    // is −0.0 in one engine and +0.0 in the other (bitwise compare —
    // caught by the sf0.1 sweep), and x + 0.0 canonicalizes both.
    "q_agg_kruskal" -> ((s, d) => {
      val DT = org.apache.spark.sql.types.DecimalType
      def cIf(f: String) = count(when(col("l_returnflag") === f, lit(1)))
      val vc = T.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity").cast(DT(9, 2)).as("q"))
        .groupBy(col("q")).agg(count(lit(1)).as("n"),
          cIf("A").as("n_a"), cIf("N").as("n_n"), cIf("R").as("n_r"))
      val w = Window.orderBy(col("q").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rk = vc.withColumn("cum", sum(col("n")).over(w))
        .withColumn("r",
          (lit(2L) * col("cum") - col("n") + lit(1L)).cast(DT(18, 0)))
      def cd(c: Column) = c.cast(DT(12, 0))
      val g = rk.agg(
        sum(col("n")).as("nn"), sum(col("n_a")).as("na"),
        sum(col("n_n")).as("nb"), sum(col("n_r")).as("nc"),
        sum(cd(col("n_a")) * col("r")).as("sa"),
        sum(cd(col("n_n")) * col("r")).as("sb"),
        sum(cd(col("n_r")) * col("r")).as("sc"),
        sum(cd(col("n")) * cd(col("n")) * cd(col("n")) - cd(col("n")))
          .as("t3"))
      def dbl(c: String) = col(c).cast("double")
      val nD = dbl("nn")
      def rterm(sc: String, nc: String) =
        (dbl(sc) / 2.0) * (dbl(sc) / 2.0) / dbl(nc)
      val h = (lit(12.0) / (nD * (nD + 1.0))
        * (rterm("sa", "na") + rterm("sb", "nb") + rterm("sc", "nc"))
        - lit(3.0) * (nD + 1.0))
        .divide(lit(1.0) - dbl("t3") / (nD * nD * nD - nD))
      g.select(col("nn").as("n_rows"), h.as("h"))
        .select(col("n_rows"), round(col("h"), 6).as("h_stat"),
          (round((col("h") - 2.0) / (col("n_rows").cast("double") - 3.0), 6)
            + lit(0.0)).as("eps_sq"))
    }),

    // §2.4 Mann-Whitney U (r15) — the two-sample rank test between the
    // l_linestatus arms on l_quantity: U, and the tie-corrected normal
    // z (the large-sample call, q_event_abtest_t's cut). Identical
    // machinery to q_agg_kruskal: 50-value collapse with per-arm
    // conditional counts, bounded rank window, exact integer sums, one
    // pinned IEEE chain. U itself is exact (R_O halves a < 2^53
    // integer; the n(n+1)∕2 term is integral) and ships UNROUNDED
    // (§7.4.7); z rounds 6dp.
    "q_agg_mwu" -> ((s, d) => {
      val DT = org.apache.spark.sql.types.DecimalType
      mwuOn(T.lineitem(s, d).select(col("l_linestatus").as("arm"),
        col("l_quantity").cast(DT(9, 2)).as("v")), "O", "F")
        .withColumnRenamed("n_a", "n_o").withColumnRenamed("n_b", "n_f")
    }),

    // §2.4 Kendall tau-b per group (r15) — the concordance-based rank
    // correlation beside q_agg_spearman, exact over the JOINT
    // distinct-value table: per returnflag, concordant∕discordant
    // weighted pair counts between l_quantity (50-value domain) and
    // l_discount (11-value domain). Engine discipline: the corpus
    // collapses to ≤ 3·50·11 joint cells FIRST; the pair enumeration
    // is a self-join of that aggregate on (g, x<x2) — work ∝
    // ∣domain_x × domain_y∣² per group, SF-INVARIANT (never a row-pair
    // join); marginal tie terms off the cell table's own collapses;
    // everything left of the division exact DECIMAL(38,0)/HUGEINT;
    // tau-b = (C−D)∕(√((n(n−1)−Σtx(tx−1))∕2)·√(…y…)) as ONE pinned
    // chain (sqrt is correctly rounded per 754), 6dp.
    "q_agg_kendall" -> ((s, d) => {
      val DT = org.apache.spark.sql.types.DecimalType
      kendallOn(T.lineitem(s, d).select(col("l_returnflag").as("g"),
        col("l_quantity").cast(DT(9, 2)).as("x"),
        col("l_discount").cast(DT(4, 2)).as("y")))
        .withColumnRenamed("g", "l_returnflag")
    }),

    // §2.4 arbitrary GROUPING SETS (r15) — the general form rollup/cube
    // specialize: ((priority, status), (priority), ()) — the exact set
    // list, not a hierarchy — through Spark 4's NATIVE
    // Dataset.groupingSets (the SQL-text twin is q_sql_gsets; this row
    // pins the DataFrame API surface). Plans ONE Expand + one hash
    // aggregate (same operator as rollup — shuffle ∝ Σ per-set group
    // counts, never rows × sets re-scans).
    "q_agg_gsets" -> ((s, d) =>
      T.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderpriority")), Seq()),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"),
          grouping(col("o_orderpriority")).cast("int").as("g_p"),
          grouping(col("o_orderstatus")).cast("int").as("g_s"))
        .orderBy(asc_nulls_first("o_orderpriority"),
          asc_nulls_first("o_orderstatus"))),

    // §2.4 fixed-width histogram of order totals: bucket = floor(price /
    // 20000) — one IEEE double division + floor, bit-identical in both
    // engines — then count + decimal sum per bucket. The classic OLAP
    // histogram as one map-side-combining hash aggregate: shuffle ∝
    // bucket count (fixed), never rows, at any corpus size.
    "q_agg_histogram" -> ((s, d) =>
      T.orders(s, d)
        .withColumn("bucket", floor(col("o_totalprice") / lit(20000.0)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("bucket"))),

    // Equi-DEPTH histogram (r14) — q_agg_histogram's profiling
    // complement: 4 buckets holding ~equal ROW counts (count, min/max
    // per bucket), cut at the exact discrete quartiles — the
    // distribution profile that stays readable on skewed data where
    // equi-WIDTH buckets collapse into one bar. Determinism: cuts come
    // from `Percentiles.disc` (integer rank math over the distinct-
    // value collapse — zero float in the derivation, values the data
    // holds); bucket = 1 + Σ(v > cut) with the strict-compare tie rule
    // (a value EQUAL to a cut stays low — the q_event_rfm discipline),
    // so ties make counts deterministically unequal, never split.
    // Plan: the pctile chain (shuffle ∝ distinct values) → 1-row cut
    // table broadcast → pure map + ONE map-side-combining 4-row agg.
    "q_agg_eqdepth" -> ((s, d) =>
      eqDepthOn(T.orders(s, d), "o_totalprice", 4)),

    // §2.4 argmax with explicit tiebreak (max acctbal, tie → lowest
    // custkey) via lexicographic struct max — a single hash aggregate, no
    // window shuffle. The negated key implements the MIN tiebreak inside MAX.
    "q_agg_minmaxby" -> ((s, d) =>
      T.customer(s, d).groupBy(col("c_nationkey"))
        .agg(max(struct(col("c_acctbal"), (-col("c_custkey")).as("negkey"),
          col("c_name"))).as("best"))
        .select(col("c_nationkey"),
          (-col("best.negkey")).as("c_custkey"),
          col("best.c_name").as("c_name"),
          col("best.c_acctbal").as("c_acctbal"))
        .orderBy(col("c_nationkey"))),

    // §2.4 pivot: user-bucket × event_type counts (explicit value list —
    // never value-discovery, which would scan twice).
    "q_pivot" -> ((s, d) =>
      T.events(s, d)
        .withColumn("bucket", col("user_id") % 10)
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .count()
        .select(col("bucket"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("error"), lit(0L)).as("n_error"))
        .orderBy(col("bucket"))),

    // §2.4 exact dispersion stats per group — sample stddev + mean from
    // EXACT decimal moments (same §7.4 technique as q_agg_corr: never
    // native stddev(), whose partial-merge order is engine-dependent;
    // the closed form is a pinned IEEE op sequence over exact sums —
    // sqrt is correctly rounded per IEEE-754, so both engines agree).
    // One map-side-combining hash agg; precisions sized so the decimal
    // square never overflows either engine ((12,2)² → (24,4)).
    "q_agg_stddev" -> ((s, d) => {
      val price = col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(12, 2))
      val g = T.orders(s, d).groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("n"),
        sum(price).as("sx"),
        sum(price * price).as("sxx"))
      def dbl(c: String) = col(c).cast("double")
      val nD = col("n").cast("double")
      val varS = (nD * dbl("sxx") - dbl("sx") * dbl("sx")) / (nD * (nD - 1))
      // sample variance divides by n−1: a single-row group is 0/0 = NaN
      // in double, so degeneracy is decided structurally (n > 1) on both
      // engines — the contract is NULL, not NaN (q_event_zscore's note).
      g.select(col("o_orderstatus"), col("n"),
        when(col("n") > 1, round(sqrt(varS), 6)).as("stddev_price"),
        round(dbl("sx") / nD, 6).as("mean_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // §2.4 higher central moments (r12): per-group skewness + excess
    // kurtosis — the distribution-SHAPE audit beside q_agg_stddev's
    // dispersion (a data pipeline watches skew/kurtosis of quality and
    // length metrics to catch one-sided drift a stddev can't see).
    // l_quantity is integral (1..50), so qi = CAST AS BIGINT is exact
    // and qi²/qi³/qi⁴ are small exact longs computed per row; each power
    // is summed as DECIMAL(38,0) (exact, order-free, map-side-combining
    // — the PageRank HUGEINT-twin domain, immune to both float order
    // and at-scale 2⁵³ overflow). The central moments and ratios are
    // then ONE pinned IEEE op sequence over the exact sums — no pow(),
    // which has no cross-engine bit guarantee; skew uses m2·√m2 (√ is
    // correctly rounded per IEEE-754) — rounded once at 6dp (§7.4.7).
    // Degeneracy structurally: n>1 AND m2>0, else NULL (both engines
    // branch on the same computed double). ONE map-side-combining hash
    // agg — shuffle ∝ groups; the moment math runs on ≤|groups| rows.
    "q_agg_moments" -> ((s, d) => {
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val qi = col("l_quantity").cast("long")
      val g = T.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(qi.cast(dec38)).as("s1"),
        sum((qi * qi).cast(dec38)).as("s2"),
        sum((qi * qi * qi).cast(dec38)).as("s3"),
        sum((qi * qi * qi * qi).cast(dec38)).as("s4"))
      def dbl(c: String) = col(c).cast("double")
      val nD = col("n").cast("double")
      // textual twins of the oracle's m2/m3/m4 — identical op trees
      // (Scala and SQL share *-over-± precedence and left associativity)
      val m2 = (nD * dbl("s2") - dbl("s1") * dbl("s1")) / (nD * nD)
      val m3 = (nD * nD * dbl("s3") - lit(3.0) * nD * dbl("s1") * dbl("s2")
        + lit(2.0) * dbl("s1") * dbl("s1") * dbl("s1")) / (nD * nD * nD)
      val m4 = (nD * nD * nD * dbl("s4")
        - lit(4.0) * nD * nD * dbl("s1") * dbl("s3")
        + lit(6.0) * nD * dbl("s1") * dbl("s1") * dbl("s2")
        - lit(3.0) * dbl("s1") * dbl("s1") * dbl("s1") * dbl("s1")) /
        (nD * nD * nD * nD)
      g.select(col("l_returnflag"), col("n"),
          round(dbl("s1") / nD, 6).as("mean_qty"),
          round(m2, 6).as("var_pop"),
          when(col("n") > 1 && m2 > 0,
            round(m3 / (m2 * sqrt(m2)), 6)).as("skewness"),
          when(col("n") > 1 && m2 > 0,
            round(m4 / (m2 * m2) - lit(3.0), 6)).as("kurtosis"))
        .orderBy(col("l_returnflag"))
    }),

    // §2.4 exact Gini concentration (r12) — the inequality/concentration
    // audit (vendor concentration, revenue skew: "what share of the
    // total do the top orders own"): per status, the weighted Gini of
    // o_totalprice by the trapezoid Lorenz form
    //   G = 1 − Σᵢ wᵢ·(Sᵢ₋₁ + Sᵢ) ∕ (W·Sₙ)
    // over the (value → count) collapse sorted by value. EVERYTHING
    // left of the final division is exact integer arithmetic in the
    // cents domain carried as DECIMAL(38,0) (Sᵢ₋₁ = Sᵢ − wᵢ·cᵢ, so one
    // cumulative sum serves both; a float cumulative would be
    // order-fragile): shuffle ∝ distinct values (map-side-combined
    // counts), one per-group cumulative window over the DISTINCT-value
    // table (the Percentiles discipline — spillable, parallelism =
    // groups), then G is TWO correctly-rounded decimal→double casts +
    // ONE division + one subtraction, 6dp. All-equal values → G = 0
    // exactly; empty/zero-total groups → NULL structurally.
    "q_agg_gini" -> ((s, d) => {
      val cents = (col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long")
      giniCellsOn(T.orders(s, d)
        .filter(col("o_totalprice").isNotNull)
        .groupBy(col("o_orderstatus").as("g"), cents.as("c"))
        .agg(count(lit(1)).as("w")))
        .select(col("g").as("o_orderstatus"), col("n"), col("gini"))
        .orderBy(col("o_orderstatus"))
    }),

    // §2.4 unpivot (melt, the pivot inverse): part's numeric metrics
    // wide→long via the native `unpivot` operator — Catalyst plans one
    // Expand over a single scan (rows × |metrics|, never |metrics|
    // scans; the oracle's UNION ALL form is what a naive engine would
    // run — DuckDB folds it back to one scan too). Metrics share a
    // DOUBLE type, the Expand is map-side only (the sole exchange is
    // the contract's final order).
    "q_unpivot" -> ((s, d) =>
      T.part(s, d)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size"), col("retailprice")), "metric", "val")
        .orderBy(col("p_partkey"), col("metric"))),

    // §2.6 multi-key global sort (range partitioned).
    "q_sort" -> ((s, d) =>
      T.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc, col("o_orderkey").asc)),

    // §2.6 ordered limit → TakeOrderedAndProject (per-partition top-k, no
    // global sort materialization).
    "q_limit" -> ((s, d) =>
      T.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)),

    // §2.6 top-3 per customer (tie → lowest orderkey); WindowGroupLimit.
    "q_topk_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T.orders(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    // §2.7 union all with provenance tags (the reference's stream merge,
    // batch analog — SURVEY §1.1).
    "q_union_all" -> ((s, d) => {
      val o = T.orders(s, d)
      val hv = o.filter(col("o_totalprice") > 400000)
        .select(lit("hv").as("tag"), col("o_orderkey"))
      val rec = o.filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select(lit("recent").as("tag"), col("o_orderkey"))
      hv.unionAll(rec).orderBy(col("tag"), col("o_orderkey"))
    }),

    // §2.7 union distinct.
    "q_union" -> ((s, d) => {
      val o = T.orders(s, d)
      val hv = o.filter(col("o_totalprice") > 400000).select(col("o_orderkey"))
      val rec = o.filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("o_orderkey"))
      hv.union(rec).distinct().orderBy(col("o_orderkey"))
    }),

    // §2.7 intersect (→ semi join under the hood).
    "q_intersect" -> ((s, d) => {
      val b = T.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val rich = T.customer(s, d).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      b.intersect(rich).orderBy(col("c_custkey"))
    }),

    // §2.7 except (→ anti join under the hood).
    "q_except" -> ((s, d) => {
      val b = T.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val open = T.orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("c_custkey"))
      b.except(open).orderBy(col("c_custkey"))
    }),

    // §2.7 BAG-semantics set ops over a multiset with real duplicates
    // (customers place many orders): INTERSECT ALL keeps min
    // multiplicity, EXCEPT ALL the positive difference — distinct
    // operators from the set forms (they plan as count-aggregate +
    // generate, not a semi/anti join). Ordering by the single output
    // column makes remaining ties identical rows (order-stable).
    "q_intersect_all" -> ((s, d) => {
      val open = T.orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      val big = T.orders(s, d).filter(col("o_totalprice") > 200000)
        .select(col("o_custkey"))
      open.intersectAll(big).orderBy(col("o_custkey"))
    }),

    "q_except_all" -> ((s, d) => {
      val open = T.orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      val big = T.orders(s, d).filter(col("o_totalprice") > 200000)
        .select(col("o_custkey"))
      open.exceptAll(big).orderBy(col("o_custkey"))
    }),

    // §2.4 exact percentiles (median / p90): order statistics with linear
    // interpolation, computed WITHOUT Spark's native percentile(). The
    // native form buffers every distinct value of a group inside a
    // heap-only ObjectHashAggregate buffer — with 3 status groups that is
    // an OOM at corpus scale. Scale-safe equivalent: pre-aggregate
    // (status, value) -> count (shuffle ∝ distinct values, map-side
    // combining), cumulative-count window over the distinct values
    // (WindowExec sorts spill to disk), flag the two interpolation
    // neighbours at rank p*(n-1), and interpolate in double. The DuckDB
    // twin runs the identical CTE, so both engines execute the same IEEE
    // sequence; results rounded at 6dp (§7.4.7). Delegates to
    // operators.Percentiles — the parameterized engine the facade
    // exposes over arbitrary (group, value) columns.
    "q_agg_pctile" -> ((s, d) =>
      graft.operators.Percentiles.cont(T.orders(s, d), Seq("o_orderstatus"),
          "o_totalprice", Seq(0.5 -> "mp", 0.9 -> "pp"))
        .select(col("o_orderstatus"),
          round(col("mp"), 6).as("median_price"),
          round(col("pp"), 6).as("p90_price"),
          col("n"))
        .orderBy(col("o_orderstatus"))),

    // Box-plot profile (r12) — the five-number summary + Tukey fences
    // per group: n, min, q1, median, q3, max, and the count of rows
    // beyond q1 − 1.5·IQR / q3 + 1.5·IQR on each side — the standard
    // distribution triage a dashboard draws before any modeling.
    // Quartiles ride the SAME scale-safe Percentiles.cont engine as
    // q_agg_pctile (distinct-value collapse, bounded per-group window —
    // never a native heap percentile); fences are IEEE arithmetic on
    // the UNROUNDED quartiles (both engines run the identical chain;
    // ·1.5 is exact dyadic), outputs round at 6dp (price·10⁶ ≈ 5e11 <
    // 2⁵³, and 2dp-price interpolation at dyadic fractions carries ≤
    // 4dp — no .5-boundary exists); outlier counts are one join-back
    // of the 3-row fence table (AQE broadcasts it at this cardinality;
    // the engine itself carries no hint — see boxplotOn) + a
    // map-side-combining agg.
    "q_agg_boxplot" -> ((s, d) =>
      boxplotOn(T.orders(s, d), Seq("o_orderstatus"), "o_totalprice")
        .orderBy(col("o_orderstatus"))),

    // Top-k revenue concentration (r12) — the practical "80/20"
    // readout beside q_agg_gini's whole-curve coefficient: what share
    // of total order revenue the top-10 / top-100 customers hold.
    // Customer revenues are exact decimal sums; the top-k cut is total
    // under (rev desc, custkey asc) — decimals are exact, so both
    // engines pick the identical k-set; share is ONE IEEE division of
    // two already-deterministic doubles, unrounded (§7.4.7). Plan: one
    // map-side-combining customer collapse (∝ customers), each top-k
    // is TakeOrderedAndProject + a 1-row agg, total is a 1-row
    // broadcast — no global sort anywhere.
    "q_agg_topshare" -> ((s, d) => {
      // total + two top-k consumers
      val byCust = Scope.eager(T.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(Det.Dec)).as("rev")))
      val total = byCust.agg(sum(col("rev")).as("tot"))
      def top(k: Int) = byCust
        .orderBy(col("rev").desc, col("o_custkey").asc).limit(k)
        .agg(sum(col("rev")).as("top_rev"))
        .select(lit(k).as("k"), col("top_rev"))
      top(10).union(top(100)).crossJoin(broadcast(total))
        .select(col("k"),
          round(col("top_rev"), 4).cast("double").as("top_rev"),
          round(col("tot"), 4).cast("double").as("total_rev"),
          (round(col("top_rev"), 4).cast("double")
            / round(col("tot"), 4).cast("double")).as("share"))
        .orderBy(col("k"))
    }),

    // §2.4 DISCRETE percentiles (type-1 order statistic): the smallest
    // existing value whose cumulative count reaches ⌈p·n⌉ — no
    // interpolation, so the query carries ZERO float arithmetic: the
    // rank is pure integer math (⌈a/b⌉ = (a+b−1) div b) and the answer
    // is a value the table already holds. Same scale-safe machinery as
    // q_agg_pctile (distinct-value-count pre-agg + spillable cumulative
    // window), never a heap-buffered percentile aggregate; both delegate
    // to operators.Percentiles (the facade's parameterized form).
    "q_agg_pctile_disc" -> ((s, d) =>
      graft.operators.Percentiles.disc(T.orders(s, d), Seq("o_orderstatus"),
          "o_totalprice", Seq((0, 1, "pmin_disc"), (5, 10, "median_disc"), (9, 10, "p90_disc")))
        .orderBy(col("o_orderstatus"))),

    // §2.4 WEIGHTED median / p90 — the quantity-weighted order statistic
    // (equivalent to replicating each row `weight` times, computed
    // without replication): smallest price whose cumulative QUANTITY
    // reaches ⌈p·W⌉. Integral weights keep the rank in pure integer
    // arithmetic (l_quantity is an integer stored as double; the long
    // cast is exact). Same bounded machinery: shuffle ∝ distinct
    // (flag, price) pairs with map-side-combined weights.
    "q_agg_wmedian" -> ((s, d) =>
      graft.operators.Percentiles.disc(
          T.lineitem(s, d).select(col("l_returnflag"),
            col("l_extendedprice"), col("l_quantity")),
          Seq("l_returnflag"), "l_extendedprice",
          Seq((1, 2, "wmedian"), (9, 10, "wp90")), Some("l_quantity"))
        .orderBy(col("l_returnflag"))),

    // §2.4 weighted CONTINUOUS median / p90 (r9) — the interpolated
    // counterpart of q_agg_wmedian: rank p·(W−1) over the quantity-
    // replicated multiset, computed WITHOUT replication
    // (Percentiles.cont weightCol, new in r9; the replicated-multiset
    // equivalence is property-law-pinned). Identical CTE on DuckDB →
    // identical IEEE interpolation sequence, rounded 6dp (§7.4.7). Same
    // bounded machinery as every percentile query: shuffle ∝ distinct
    // (flag, price) pairs with map-side-combined weights.
    "q_agg_wmedian_cont" -> ((s, d) =>
      graft.operators.Percentiles.cont(
          T.lineitem(s, d).select(col("l_returnflag"),
            col("l_extendedprice"), col("l_quantity")),
          Seq("l_returnflag"), "l_extendedprice",
          Seq(0.5 -> "wm", 0.9 -> "wp"), Some("l_quantity"))
        .select(col("l_returnflag"),
          round(col("wm"), 6).as("wmedian_c"),
          round(col("wp"), 6).as("wp90_c"),
          col("n"))
        .orderBy(col("l_returnflag"))),

    // §2.4 median absolute deviation — THE robust dispersion statistic
    // (outlier-insensitive, unlike stddev): MAD = median(|x − median(x)|)
    // per group. Two composed scale-safe percentile passes (never the
    // native heap-buffered percentile): median per group → broadcastable
    // |groups|-row join-back → per-row absolute deviation → second
    // distinct-count + window median over the deviations. Shuffle is
    // ∝ distinct values in each pass; the deviation step is map-only.
    // The deviation |x − med| is a multi-op double chain computed with
    // the identical op sequence on both engines, rounded 6dp (§7.4.7).
    "q_agg_mad" -> ((s, d) => {
      val med = graft.operators.Percentiles.cont(T.orders(s, d),
          Seq("o_orderstatus"), "o_totalprice", Seq(0.5 -> "med"))
        .select(col("o_orderstatus").as("st"), col("med"))
      val dev = T.orders(s, d)
        .join(med, col("o_orderstatus") === col("st"))
        .select(col("o_orderstatus"),
          abs(col("o_totalprice").cast("double") - col("med")).as("adev"))
      graft.operators.Percentiles.cont(dev, Seq("o_orderstatus"), "adev",
          Seq(0.5 -> "mad"))
        .select(col("o_orderstatus"), round(col("mad"), 6).as("mad"), col("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // §2.4 WINSORIZED mean — the robust mean (outliers clipped to the
    // p05/p95 cut values rather than dropped; the quality-score
    // aggregation a data pipeline reports when a handful of degenerate
    // docs would otherwise own the mean). Cut points are DISCRETE
    // percentiles (values the table already holds — zero float in the
    // cut derivation, same scale-safe Percentiles.disc machinery as
    // q_agg_pctile_disc), the clip runs in the exact DECIMAL domain
    // (least/greatest of decimals), and the mean is one decimal sum →
    // one double cast → ONE division, rounded 6dp (§7.4.7). Shuffle:
    // the percentile pre-agg (∝ distinct values) + a |groups|-row
    // broadcast join-back + one map-side-combined final agg.
    "q_agg_winsor" -> ((s, d) =>
      graft.operators.Percentiles.winsorizedMean(
          T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice")),
          Seq("o_orderstatus"), "o_totalprice")
        .select(col("o_orderstatus"), col("winsor_lo"), col("winsor_hi"),
          round(col("winsor_mean"), 6).as("winsor_mean"), col("n"))
        .orderBy(col("o_orderstatus"))),

    // §2.4 TRIMMED mean — q_agg_winsor's sibling: rows outside the
    // p05/p95 cuts are DROPPED, not clipped (the two standard robust
    // means; reporting both n_kept and n makes the trimmed-away count
    // auditable). Same engine, same scale shape — the only new work is
    // a map-only conditional agg; zero new float surface (exact sums,
    // one division, 6dp).
    "q_agg_trimmed" -> ((s, d) =>
      graft.operators.Percentiles.trimmedMean(
          T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice")),
          Seq("o_orderstatus"), "o_totalprice")
        .select(col("o_orderstatus"), col("trim_lo"), col("trim_hi"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"),
          col("n_kept"), col("n"))
        .orderBy(col("o_orderstatus"))),

    // §2.2/§2.7 null semantics: outer-join-produced nulls through
    // null-safe equality, coalesce chains, and the count(col) vs count(*)
    // distinction. NULL keys group together (both engines).
    "q_nulls" -> ((s, d) => {
      val a = T.customer(s, d).filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val b = T.orders(s, d).filter(col("o_custkey") % 5 === 0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      a.join(b, col("c_custkey") === col("o_custkey"), "full")
        .groupBy((col("c_custkey") % 2).as("parity")) // NULL for right-only rows
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_custkey")).as("n_cust"), // excludes NULLs
          count(col("cnt")).as("n_matched"),
          sum(when(col("c_custkey") <=> col("o_custkey"), 1).otherwise(0)).as("n_nse"),
          sum(coalesce(col("cnt"), lit(0L))).as("orders_total"))
        .orderBy(asc_nulls_first("parity"))
    }),

    // §2.1 synthetic range source: spark.range as a generator-backed scan
    // (the "sequence source" every engine ships), joined against real data.
    "q_gen_range" -> ((s, d) => {
      val buckets = s.range(0, 10).select(col("id").as("bucket"))
      val counted = T.orders(s, d)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_orders"))
      buckets.join(counted, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("bucket"))
    }),

    // §2.4 bitwise aggregate family (r12) — BIT_OR / BIT_XOR / BIT_COUNT,
    // the bitmap-index aggregation class (presence masks, bloom-ish
    // compaction) that no other graded row exercises. Per customer: the
    // months-active bitmap (bit j−1 set ⇔ an order in calendar month j —
    // month() is engine-identical 1..12 on DATE, unlike day-of-week whose
    // start-of-week differs), its popcount, and the XOR parity mask (bit
    // set ⇔ an ODD number of orders that month). All integer bit algebra:
    // exact, order-free (OR/XOR are commutative-associative), so a
    // 1000-executor partial→final merge cannot change a bit. Plan: ONE
    // map-side-combining hash aggregate, shuffle ∝ customers with a
    // 3-long-column payload — the whole point of bitmaps at 100 TB: a
    // 12-month presence set costs 8 bytes, not a distinct-count buffer.
    "q_agg_bitmask" -> ((s, d) => {
      val bit = expr("shiftleft(CAST(1 AS BIGINT), month(o_orderdate) - 1)")
      T.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(bit_or(bit).as("month_mask"),
          bit_xor(bit).as("parity_mask"),
          count(lit(1)).as("n_orders"))
        .withColumn("n_active_months", bit_count(col("month_mask")))
        .orderBy(col("o_custkey"))
    }),

    // §2.4 KMV distinct-count sketch (r15; Bar-Yossef et al. 2002,
    // "Counting Distinct Elements in a Data Stream") — the
    // cardinality member of the sketch family beside QuantileSketch/
    // HeavyHitters: per return flag, the k = KmvK minimum values of an
    // engine-portable 32-bit hash of l_partkey estimate the distinct
    // part count as (k−1)·2³²∕h₍ₖ₎, with the exact count as the graded
    // audit column (the err_bound discipline: a sketch row ships its
    // own error). Deterministic end to end: Det.md5h32 (never a
    // seeded/engine hash), EXACT integer floor division for the
    // estimate, one audited IEEE division for err_pct at 6dp. Groups
    // smaller than k take the exact-count branch (the estimator is
    // exact below k — both tiny-sf scales exercise that branch, sf0.1
    // the estimating branch). Scale: the (g, h) collapse is ONE
    // map-side-combining hash agg (shuffle ∝ distinct pairs); the
    // bottom-k rank filter plans as WindowGroupLimit (per-partition
    // k-heaps — ≤ k·partitions rows reach the exchange, the whole
    // point of KMV at 100 TB: the sketch is mergeable, the shuffle is
    // k-bounded); the countDistinct audit is the expensive exact pass
    // the sketch REPLACES at scale (kept here as its own certificate).
    "q_agg_kmv" -> ((s, d) =>
      kmvOn(T.lineitem(s, d).select(col("l_returnflag").as("g"),
        col("l_partkey").cast("string").as("v")), KmvK)),

    // §2.4 delete-one-bucket (grouped) jackknife (r15; Quenouille/
    // Tukey) — a standard error for the NONLINEAR ratio estimator
    // Σprice∕Σqty, which no closed-form per-group variance covers:
    // rows hash into B = 10 deterministic buckets (md5h32 of orderkey
    // — never rand(), so the replicate set is reproducible across
    // runs/engines/layouts), replicate r_b = the ratio with bucket b
    // deleted, SE² = (B−1)/B · Σ(r_b − r̄)². Determinism: bucket sums
    // are exact decimals; each replicate is ONE IEEE division of exact
    // decimal differences, then ROUND-quantized at 1e9 (the PageRank
    // quantize-sum-divide contract) so the replicate moments are exact
    // integer sums — order-free; the final SE chain is pinned doubles
    // off those exact ints, 6dp once. Scale: ONE map-side-combining
    // hash agg to 10 bucket rows (shuffle ∝ B forever), a broadcast
    // 1-row total, and O(B) arithmetic — the estimator costs one scan
    // at any corpus size.
    "q_agg_jackknife" -> ((s, d) => {
      val DT = org.apache.spark.sql.types.DecimalType
      val b = T.lineitem(s, d)
        .select((Det.md5h32(col("l_orderkey").cast("string")) % 10).as("b"),
          col("l_extendedprice").cast(DT(12, 2)).as("p"),
          col("l_quantity").cast(DT(9, 2)).as("q"))
        .groupBy(col("b"))
        .agg(sum(col("p")).as("sp"), sum(col("q")).as("sq"))
      val tot = b.agg(sum(col("sp")).as("tp"), sum(col("sq")).as("tq"),
        count(lit(1)).as("nb"))
      // a replicate whose delete-one denominator degenerates (tq = sq:
      // one bucket holds ALL the quantity) is structurally NULL, and
      // the SE only reports when every replicate computed (nr = nb) —
      // the SE formula reads the COUNTED nb, never a hardcoded B, so
      // an empty md5 bucket on tiny inputs can't misscale it (r15
      // ADVICE)
      val reps = b.crossJoin(broadcast(tot))
        .select(col("tp"), col("tq"), col("nb"),
          expr("cast(round(case when tq - sq = 0 then null" +
            " else cast(tp - sp as double)" +
            " / cast(tq - sq as double) end * 1e9) as bigint)").as("rq"))
      val dec = "decimal(38,0)"
      reps.groupBy(col("tp"), col("tq"), col("nb"))
        .agg(sum(col("rq").cast(dec)).as("s1"),
          sum(col("rq").cast(dec) * col("rq")).as("s2"),
          count(col("rq")).as("nr"))
        .select(
          round(col("tp").cast("double") / col("tq").cast("double"), 6)
            .as("ratio"),
          col("nb").as("n_buckets"),
          when(col("nr") === col("nb"),
            round(sqrt((col("nb").cast("double") - lit(1.0))
              / col("nb").cast("double")
              * (col("s2").cast("double")
                - col("s1").cast("double") * col("s1").cast("double")
                  / col("nb").cast("double"))) / lit(1e9), 6))
            .as("se_jack"))
    }),

    // §2.4 Hodges-Lehmann pseudo-median per group (r15) — the robust
    // location estimator the rank-test family implies (the point
    // estimate dual of the Wilcoxon signed-rank): the weighted
    // discrete lower median of ALL Walsh averages (xᵢ+xⱼ)/2, i ≤ j —
    // 29% breakdown, ~0.955 normal efficiency (beats the plain
    // median's 0.64). Engine discipline (the kendall SF-invariance
    // shape): the corpus collapses to ≤ 3×50 (g, x) cells FIRST, Walsh
    // pairs self-join the AGGREGATE on (g, x ≤ x2) — ≤ C(50,2)+50
    // cells per group, SF-INVARIANT work — with exact integer pair
    // weights (w·w2 off-diagonal, w(w+1)/2 diagonal, integer
    // floor-div of an even product). Determinism: DOUBLED averages
    // (the spearman 2× trick — s2x = x+x2 stays an exact 2dp decimal;
    // a /2 in decimal would drag engine division-scale rules in), the
    // ceil(W/2) rank in exact integer math, the bounded ≤1275-cell
    // cumulative window, and ONE exact IEEE halving at the end
    // (division by 2 is exact in binary floating point — unrounded,
    // §7.4.7).
    "q_agg_hodgeslehmann" -> ((s, d) =>
      hlOn(T.lineitem(s, d).select(col("l_returnflag").as("g"),
        col("l_quantity").cast(
          org.apache.spark.sql.types.DecimalType(9, 2)).as("x")),
        org.apache.spark.sql.types.DecimalType(10, 2))),

    // §2.4 count-min sketch with exact audit (r15; Cormode &
    // Muthukrishnan 2005) — the point-frequency member completing the
    // sketch quartet (KLL quantiles / MG heavy hitters / KMV
    // cardinality / CMS frequency): d = 4 hash rows × w = 64 counters
    // over l_partkey occurrences; for the top-10 parts (total
    // (count desc, partkey) order) the sketch estimate = min over
    // rows of the key's counter, beside the exact count and the
    // guaranteed-nonnegative overcount (CMS never undercounts — the
    // audit column certifies the one-sided error, the err_bound
    // discipline). Determinism: row hashes are md5h32("i#key") —
    // engine-portable, never seeded. Scale: the counter table is ONE
    // map-side-combining hash agg into d·w = 256 cells — BOUNDED
    // state for unbounded key domains, the whole point at 100 TB
    // (the exact per-key pass it replaces is kept as the audit);
    // top-k is TakeOrderedAndProject; the probe joins a broadcast
    // 256-row frame.
    "q_agg_cms" -> ((s, d) =>
      cmsOn(T.lineitem(s, d).select(col("l_partkey").as("k")),
        CmsRows, CmsWidth, CmsTopK)
        .select(col("k").as("l_partkey"), col("n_true"), col("cms_est"),
          col("overcount"))),

    // §2.4 AMS F2 sketch with exact audit (r16; Alon-Matias-Szegedy
    // 1996) — the SECOND-moment member completing the sketch family
    // (KLL quantiles ∕ MG heavy hitters ∕ KMV cardinality ∕ CMS point
    // frequency ∕ this: Σc² — the self-join size, what a 100 TB join
    // planner asks a sketch BEFORE shuffling two corpus-sized sides).
    // Each of AmsRows rows keeps one running ±1-signed sum
    // zᵢ = Σ_rows sᵢ(key); E[zᵢ²] = F2 exactly, and the estimate is
    // the MEAN of the 8 squares in exact integer floor-div — the
    // textbook inner estimator (s₁ = 8 averaged copies, unbiased;
    // taking a MEDIAN of raw squares instead reads the χ²₁ median,
    // 0.455·F2 — measured 0.14-0.46 ratios before this landed; the
    // outer median-of-groups robustness step needs s₁·s₂ ≫ 8 rows
    // and is documented as the production knob, not graded).
    // Determinism: signs are md5h32("i#key") parity —
    // engine-portable, never seeded; EVERYTHING is exact integer
    // (signed sums, squares, the sorted-array median, the exact Σc²
    // audit) except one final guarded IEEE ratio, 6dp. Scale: the
    // sketch is ONE map-side-combining agg into 8 longs — a linear
    // sketch (mergeable by ADDITION across partitions/streams — the
    // exactly-once-required contrast CMS documents); the exact audit
    // pays the (k, c) collapse the sketch exists to avoid, kept
    // because the certificate IS the contract here.
    "q_agg_ams" -> ((s, d) =>
      amsOn(T.lineitem(s, d).select(col("l_partkey").as("k"))))
  )

  /** q_agg_ams / q_event_amsjoin: independent sign rows. */
  private[graft] val AmsRows = 8

  /** q_event_amsjoin's engine over two key frames (each a single `k`
    * column): the AMS INNER-PRODUCT estimator — E[zᵃᵢ·zᵇᵢ] = Σ_k
    * cₐ(k)·c_b(k), the equi-join SIZE of the two multisets (Alon-
    * Matias-Szegedy 1996 §3) — from the same two 8-long linear
    * sketches [[amsOn]] keeps, beside the exact join-size audit
    * (Σ cₐ·c_b over the two collapses joined). Everything exact
    * integer (signed sums, products, floor-div mean) except one
    * guarded 6dp ratio; ONE map-side agg per side → two 1-row frames
    * crossJoined broadcast — the sketch answers at 8 longs per side
    * what the audit pays two collapses + a join for. Returns
    * (join_exact, join_est, est_ratio) — one row forever. */
  private[graft] def amsJoinOn(keysA: DataFrame, keysB: DataFrame)
      : DataFrame = {
    def sign(i: Int): Column =
      when(Det.md5h32(concat_ws("#", lit(i.toString),
        col("k").cast("string"))) % 2 === 0, lit(1L)).otherwise(lit(-1L))
    def sketch(keys: DataFrame, p: String): DataFrame = {
      val sums = (0 until AmsRows).map(i => sum(sign(i)).as(s"$p$i"))
      keys.agg(sums.head, sums.tail: _*)
    }
    // decimal-exact products — the amsOn overflow discipline
    val dec = "decimal(38,0)"
    val prods = (0 until AmsRows)
      .map(i => s"cast(a$i as $dec) * b$i").mkString(" + ")
    val est = sketch(keysA, "a").crossJoin(broadcast(sketch(keysB, "b")))
      .select(expr(s"cast(($prods) div $AmsRows as bigint)").as("join_est"))
    val ca = keysA.groupBy(col("k")).agg(count(lit(1)).as("ca"))
    val cb = keysB.groupBy(col("k").as("k2")).agg(count(lit(1)).as("cb"))
    val ex = ca.join(cb, col("k") === col("k2"))
      .agg(coalesce(sum(col("ca").cast(dec) * col("cb")).cast("long"),
        lit(0L)).as("join_exact"))
    ex.crossJoin(broadcast(est))
      .select(col("join_exact"), col("join_est"),
        when(col("join_exact") > 0,
          round(col("join_est").cast("double")
            / col("join_exact").cast("double"), 6)).as("est_ratio"))
  }

  /** q_agg_ams's engine over any single-column (k) key frame: the
    * 8-row AMS linear sketch, its lower-median F2 estimate, the exact
    * F2 audit, and the audited ratio. One row forever. */
  private[graft] def amsOn(keys: DataFrame): DataFrame = {
    def sign(i: Int): Column =
      when(Det.md5h32(concat_ws("#", lit(i.toString),
        col("k").cast("string"))) % 2 === 0, lit(1L)).otherwise(lit(-1L))
    // squares and the exact audit run in DECIMAL(38,0): a hot key's
    // c² (or a 10¹²-row z²) silently wraps a long at 100× — the §7.4
    // exact-sum discipline; outputs stay BIGINT (the graded domain)
    val dec = "decimal(38,0)"
    val sums = (0 until AmsRows).map(i => sum(sign(i)).as(s"z$i"))
    val z = keys.agg(sums.head, sums.tail: _*)
    val sq = (0 until AmsRows)
      .map(i => s"cast(z$i as $dec) * z$i").mkString(" + ")
    val est = z.select(
      expr(s"cast(($sq) div $AmsRows as bigint)").as("f2_est"))
    val ex = keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast(dec) * col("c")).cast("long").as("f2_exact"))
    ex.crossJoin(broadcast(est))
      .select(col("f2_exact"), col("f2_est"),
        when(col("f2_exact") > 0,
          round(col("f2_est").cast("double")
            / col("f2_exact").cast("double"), 6)).as("est_ratio"))
  }

  /** q_agg_cms: depth (hash rows), width (counters per row), audited
    * key count. */
  private[graft] val CmsRows = 4
  private[graft] val CmsWidth = 64
  private[graft] val CmsTopK = 10

  /** q_agg_hodgeslehmann's engine over any (g, x: decimal) frame:
    * weighted discrete lower median of Walsh averages off the
    * distinct-value cell table (work ∝ |domain|² per group,
    * SF-invariant). `s2t` is the doubled-average decimal type — one
    * integer digit wider than x. Caches the cell table. Returns
    * (g, n_pairs, hl). */
  private[graft] def hlOn(gx: DataFrame,
                          s2t: org.apache.spark.sql.types.DecimalType)
      : DataFrame = {
    // both Walsh self-join sides
    val cells = Scope.eager(
      gx.groupBy(col("g"), col("x")).agg(count(lit(1)).as("w")))
    val pairs = cells
      .join(cells.select(col("g").as("g2"), col("x").as("x2"),
        col("w").as("w2")),
        col("g") === col("g2") && col("x") <= col("x2"))
      .select(col("g"), (col("x") + col("x2")).cast(s2t).as("s2x"),
        when(col("x") < col("x2"), col("w") * col("w2"))
          .otherwise(expr("w * (w + 1) div 2")).as("pw"))
    val wa = pairs.groupBy(col("g"), col("s2x"))
      .agg(sum(col("pw")).as("pw"))
    val tot = wa.groupBy(col("g")).agg(sum(col("pw")).as("wt"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("s2x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wa.withColumn("cum", sum(col("pw")).over(wCum))
      .join(tot, Seq("g"))
      .filter(col("cum") - col("pw") < expr("(wt + 1) div 2")
        && expr("(wt + 1) div 2") <= col("cum"))
      .select(col("g"), col("wt").as("n_pairs"),
        (col("s2x").cast("double") / lit(2.0)).as("hl"))
      .orderBy(col("g"))
  }

  /** q_agg_gini's engine over any value-collapsed (g, c, w) cell
    * frame (c = nonnegative integer value, w = cell weight): the exact
    * weighted Gini off the per-group cumulative mass window — shuffle
    * ∝ cells, decimal-exact until the single 6dp division. Shared by
    * the orders-concentration query and q_graph_deggini's
    * degree-inequality profile. Returns (g, n, gini). */
  private[graft] def giniCellsOn(vc: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val wOrd = Window.partitionBy(col("g")).orderBy(col("c").asc)
    val cum = vc
      .withColumn("s_cum", sum((col("w") * col("c")).cast(dec38)).over(wOrd))
      .withColumn("term",
        col("w").cast(dec38)
          * (col("s_cum") + col("s_cum") - (col("w") * col("c")).cast(dec38)))
    cum.groupBy(col("g"))
      .agg(sum(col("term")).as("x"),
        sum((col("w") * col("c")).cast(dec38)).as("s_tot"),
        sum(col("w")).as("w_tot"))
      .select(col("g"), col("w_tot").as("n"),
        when(col("s_tot") > 0,
          round(lit(1.0)
            - col("x").cast("double")
              / (col("w_tot").cast(dec38) * col("s_tot")).cast("double"),
            6)).as("gini"))
      .orderBy(col("g"))
  }

  /** q_agg_cms's engine over any single-column (k) frame: d×w counter
    * table (one map-side-combining agg into d·w cells), top-k keys by
    * exact count (total (n desc, k asc) order), estimate = min over
    * rows of the key's counter. Returns (k, n_true, cms_est,
    * overcount ≥ 0). */
  private[graft] def cmsOn(keys: DataFrame, d: Int, w: Int,
                           topK: Int): DataFrame = {
    def bkt(i: Int, key: Column): Column =
      Det.md5h32(concat_ws("#", lit(i.toString), key.cast("string"))) % w
    val ctr = keys.select(explode(array((0 until d).map(i =>
        struct(lit(i).as("r"), bkt(i, col("k")).as("bkt"))): _*)).as("x"))
      .select(col("x.r").as("r"), col("x.bkt").as("bkt"))
      .groupBy(col("r"), col("bkt")).agg(count(lit(1)).as("cnt"))
    val top = keys.groupBy(col("k")).agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("k").asc)
      .limit(topK)
    top.select(col("k"), col("n_true"),
        explode(array((0 until d).map(i =>
          struct(lit(i).as("r"), bkt(i, col("k")).as("bkt"))): _*)).as("x"))
      .select(col("k"), col("n_true"),
        col("x.r").as("r"), col("x.bkt").as("bkt"))
      .join(broadcast(ctr), Seq("r", "bkt"))
      .groupBy(col("k"), col("n_true"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("k"), col("n_true"), col("cms_est"),
        (col("cms_est") - col("n_true")).as("overcount"))
      .orderBy(col("n_true").desc, col("k").asc)
  }

  /** q_agg_kmv: sketch size (k minimum hash values per group). */
  private[graft] val KmvK = 256

  /** q_agg_kmv's engine over any (g, v: string) frame: per group the
    * KMV estimate off the k minimum md5h32 values, the exact distinct
    * count as audit, and the audited err_pct. Sub-k groups return the
    * exact count (the estimator's exact regime). */
  private[graft] def kmvOn(gv: DataFrame, k: Int): DataFrame = {
    val hv = gv.select(col("g"), Det.md5h32(col("v")).as("h")).distinct()
    val w = Window.partitionBy(col("g")).orderBy(col("h").asc)
    val bot = hv.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_bot"), max(col("h")).as("h_k"))
    val truth = gv.groupBy(col("g").as("g2"))
      .agg(countDistinct(col("v")).as("n_true"))
    bot.join(truth, col("g") === col("g2"))
      .select(col("g"), col("n_true"), col("h_k"),
        when(col("n_bot") < k, col("n_bot"))
          .otherwise(expr(s"(${k - 1}L * 4294967296L) div h_k"))
          .as("est"))
      .withColumn("err_pct",
        round(((col("est") - col("n_true")) * 100).cast("double")
          / col("n_true").cast("double"), 6))
      .orderBy(col("g"))
  }

  /** q_agg_mahal's engine over any lineitem-shaped (l_returnflag,
    * l_orderkey, l_linenumber, l_quantity, l_extendedprice) rows —
    * extracted (r13) so ScaleRehearsal drives the EXACT graded path.
    * See the registration comment for the semantics/plan story. */
  private[graft] def mahalOn(li: DataFrame): DataFrame = {
    val DT = org.apache.spark.sql.types.DecimalType
    val x = col("l_quantity").cast(DT(9, 2))
    val y = col("l_extendedprice").cast(DT(12, 2))
    val g = li.groupBy(col("l_returnflag").as("rf")).agg(
      count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    def dbl(c: String) = col(c).cast("double")
    val nD = dbl("n")
    val stats = g.select(col("rf"), nD.as("nd"),
      dbl("sx").as("sx"), dbl("sy").as("sy"),
      (nD * dbl("sxx") - dbl("sx") * dbl("sx")).as("c11"),
      (nD * dbl("syy") - dbl("sy") * dbl("sy")).as("c22"),
      (nD * dbl("sxy") - dbl("sx") * dbl("sy")).as("c12"))
    val dx = col("l_quantity") - col("sx") / col("nd")
    val dy = col("l_extendedprice") - col("sy") / col("nd")
    val det = col("c11") * col("c22") - col("c12") * col("c12")
    val d2 = (col("c22") * dx * dx - lit(2.0) * col("c12") * dx * dy
      + col("c11") * dy * dy) * col("nd") * col("nd") / det
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("d2").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    li.select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(stats), col("l_returnflag") === col("rf"))
      .withColumn("d2", when(det =!= 0.0, d2))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("l_returnflag"), col("rk"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        round(col("d2"), 6).as("mahal_d2"))
      .orderBy(col("l_returnflag"), col("rk"))
  }

  /** Box-plot profile over arbitrary (group, value) columns — the
    * q_agg_boxplot engine, exposed for [[graft.Graft.boxplot]]: per
    * group n, min, q1, median, q3 (6dp), max, and the per-side counts
    * beyond the Tukey fences q1 ∓/± 1.5·IQR. Quartiles ride the
    * scale-safe Percentiles.cont engine; fences are IEEE arithmetic on
    * the UNROUNDED quartiles (·1.5 exact dyadic); outlier counts are
    * one join-back of the group-sized fence table plus a map-side-
    * combining aggregate. The fence side is sized by ∣groups∣, which
    * the facade does not bound — so there is deliberately NO broadcast
    * hint here: AQE broadcasts it when small (the graded 3-group query)
    * and falls back to a shuffle join when a caller's group key is
    * high-cardinality. Unordered — callers append their own total
    * ORDER BY (the graded query orders by its group key). */
  def boxplotOn(df: DataFrame, groupCols: Seq[String],
                valueCol: String): DataFrame = {
    val gc = groupCols.map(col)
    val q = graft.operators.Percentiles.cont(df, groupCols, valueCol,
      Seq(0.25 -> "q1v", 0.5 -> "medv", 0.75 -> "q3v"))
    val mm = df.groupBy(gc: _*)
      .agg(min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))
    val fences = q.join(mm, groupCols)
      .withColumn("f_lo", col("q1v") - (col("q3v") - col("q1v")) * 1.5)
      .withColumn("f_hi", col("q3v") + (col("q3v") - col("q1v")) * 1.5)
    val outs = df.join(
        fences.select((gc :+ col("f_lo")) :+ col("f_hi"): _*),
        groupCols)
      .groupBy(gc: _*)
      .agg(sum((col(valueCol) < col("f_lo")).cast("long")).as("n_out_lo"),
        sum((col(valueCol) > col("f_hi")).cast("long")).as("n_out_hi"))
    fences.join(outs, groupCols)
      .select(gc ++ Seq(col("n"), col("min_v"),
        round(col("q1v"), 6).as("q1"), round(col("medv"), 6).as("median"),
        round(col("q3v"), 6).as("q3"), col("max_v"),
        col("n_out_lo"), col("n_out_hi")): _*)
  }

  /** TPC-H Q1 shape; shared with SparkEntry.entry. */
  def aggGroup(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        Det.dsumProd(col("l_extendedprice"),
          (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val li = tbl("lineitem"); private val ords = tbl("orders")
  private val cust = tbl("customer"); private val nat = tbl("nation")
  private val reg = tbl("region"); private val evt = tbl("events")


  // ---- DuckDB twin generator for operators.Percentiles ----------------
  // Every percentile oracle below is GENERATED from these helpers, so
  // the twin CTEs cannot drift from the engine's guards (both r8 and r9
  // advice flagged hand-copied twins missing the NULL-value exclusion /
  // zero-weight drop / truncating weight cast / p=0 clamp — this is the
  // structural fix). The emitted text mirrors Percentiles.marked/cont/
  // disc expression-for-expression: COUNT or truncating-coalescing
  // weighted SUM, cumulative window over distinct values, rank
  // p·(n−1) in double (cont) or integer-rational ⌈p·n⌉ with the
  // GREATEST(1, …) clamp (disc). The interpolation expression SHAPE is
  // identical on both engines, so the IEEE sequences coincide (§7.4).

  /** SUM-of-weights (truncate-toward-zero like Spark's cast long; NULL
    * weight = 0) or COUNT(*) — the `cnt` expression of the vc CTE. */
  private def pctCnt(weight: Option[String]): String = weight
    .map(w => s"SUM(COALESCE(CAST(TRUNC($w) AS BIGINT), 0))")
    .getOrElse("COUNT(*)")

  /** The shared CTE chain `<p>vc → <p>marked` (distinct-value counts +
    * cumulative ranges), prefix `p` so chains compose (q_agg_mad). */
  private[queries] def pctMarked(p: String, src: String, grp: String, v: String,
                        weight: Option[String]): String = {
    val cnt = pctCnt(weight)
    val having = weight.map(_ => s"\n            HAVING $cnt > 0").getOrElse("")
    s"""${p}vc AS (
            SELECT $grp, $v AS v, $cnt AS cnt
            FROM $src WHERE $v IS NOT NULL GROUP BY 1, 2$having
          ), ${p}marked AS (
            SELECT $grp, v, cnt,
              SUM(cnt) OVER (PARTITION BY $grp ORDER BY v) AS cum_end,
              SUM(cnt) OVER (PARTITION BY $grp ORDER BY v) - cnt AS cum_start,
              SUM(cnt) OVER (PARTITION BY $grp) AS n
            FROM ${p}vc
          )"""
  }

  /** Continuous chain `<p>vc → <p>marked → <p>rk → <p>ag`; `<p>ag` has
    * one (lo$i, hi$i, r$i) triple per fraction plus `n` — interpolate
    * with [[pctContVal]]. Fractions as decimal strings ("0.5"). */
  private[queries] def pctContCtes(p: String, src: String, grp: String, v: String,
                          weight: Option[String], ps: Seq[String]): String = {
    val ranks = ps.zipWithIndex.map { case (f, i) =>
      s"CAST($f AS DOUBLE) * CAST(n - 1 AS DOUBLE) AS r$i"
    }.mkString(",\n              ")
    val hits = ps.indices.map { i =>
      s"""MAX(CASE WHEN cum_start <= CAST(FLOOR(r$i) AS BIGINT)
                        AND CAST(FLOOR(r$i) AS BIGINT) < cum_end
                       THEN CAST(v AS DOUBLE) END) AS lo$i,
              MAX(CASE WHEN cum_start <= CAST(CEIL(r$i) AS BIGINT)
                        AND CAST(CEIL(r$i) AS BIGINT) < cum_end
                       THEN CAST(v AS DOUBLE) END) AS hi$i,
              MAX(r$i) AS r$i"""
    }.mkString(",\n              ")
    s"""${pctMarked(p, src, grp, v, weight)}, ${p}rk AS (
            SELECT *,
              $ranks
            FROM ${p}marked
          ), ${p}ag AS (
            SELECT $grp,
              $hits,
              CAST(MAX(n) AS BIGINT) AS n
            FROM ${p}rk GROUP BY 1
          )"""
  }

  /** The interpolation over `<p>ag`'s i-th triple — the exact engine
    * expression shape: lo + (r − ⌊r⌋)·(hi − lo). */
  private[queries] def pctContVal(i: Int): String =
    s"lo$i + (r$i - FLOOR(r$i)) * (hi$i - lo$i)"

  /** Complete discrete-percentile oracle: smallest stored value whose
    * cumulative count/weight reaches ⌈num/den·n⌉ (rank clamped to ≥1 so
    * p=0 is the minimum), one output column per (num, den, alias). */
  /** q_agg_eqdepth's engine over any frame — [[graft.Graft.equiDepth]]
    * enters here: k ~equal-count buckets cut at the exact discrete
    * i∕k percentiles, strict-compare tie rule (a value equal to a cut
    * stays low). NULL values drop on both the cut and bucket sides. */
  /** q_agg_mwu's engine (r15) over any (arm, v) two-sample frame:
    * Mann-Whitney U between `armA` and `armB` with the tie-corrected
    * normal z. Value collapse ∝ distinct v (rows never ranked
    * individually), doubled-avg-rank trick, exact DECIMAL(38,0) sums,
    * one pinned IEEE chain; U ships unrounded (exact — a halved
    * < 2^53 integer), z rounds 6dp with signed-zero canonicalized. */
  private[graft] def mwuOn(base: DataFrame, armA: String,
                           armB: String): DataFrame = {
    val DT = org.apache.spark.sql.types.DecimalType
    def cIf(a: String) = count(when(col("arm") === a, lit(1)))
    val vc = base.groupBy(col("v")).agg(count(lit(1)).as("n"),
      cIf(armA).as("c_a"), cIf(armB).as("c_b"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = vc.withColumn("cum", sum(col("n")).over(w))
      .withColumn("r",
        (lit(2L) * col("cum") - col("n") + lit(1L)).cast(DT(18, 0)))
    def cd(c: Column) = c.cast(DT(12, 0))
    // counts coalesce to 0 so the EMPTY-input degenerate pivot reads
    // (0, 0, NULL u, NULL z) instead of an all-NULL row
    val g = rk.agg(
      coalesce(sum(col("n")), lit(0L)).as("nn"),
      coalesce(sum(col("c_a")), lit(0L)).as("na"),
      coalesce(sum(col("c_b")), lit(0L)).as("nb"),
      sum(cd(col("c_a")) * col("r")).as("sa"),
      sum(cd(col("n")) * cd(col("n")) * cd(col("n")) - cd(col("n")))
        .as("t3"))
    def dbl(c: String) = col(c).cast("double")
    val nD = dbl("nn"); val naD = dbl("na"); val nbD = dbl("nb")
    val u = dbl("sa") / 2.0 - naD * (naD + 1.0) / 2.0
    // nullif guards (ANSI): n<2 zeroes the tie-term divisor; an
    // all-tied sample zeroes sig2 -> z NULL, never a throw
    val sig2 = (naD * nbD / 12.0) *
      ((nD + 1.0) - dbl("t3") / nullif(nD * (nD - 1.0), lit(0.0)))
    g.select(col("na").as("n_a"), col("nb").as("n_b"),
      u.as("u_stat"), sig2.as("sig2"))
      .select(col("n_a"), col("n_b"), col("u_stat"),
        (round((col("u_stat") - col("n_a").cast("double")
          * col("n_b").cast("double") / 2.0)
          / nullif(sqrt(col("sig2")), lit(0.0)), 6)
          + lit(0.0)).as("z"))
  }

  /** q_agg_kendall's engine (r15) over any (g, x, y) frame: per-group
    * Kendall tau-b, exact over the JOINT distinct-value table — the
    * pair enumeration self-joins the (g, x, y, count) AGGREGATE on
    * (g, x<x2), so work is ∝ ∣domain_x × domain_y∣² per group and
    * SF-invariant; marginal tie terms come off the cell table's own
    * collapses; everything left of the division is exact
    * DECIMAL(38,0); tau-b is ONE pinned IEEE chain (two sqrt factors
    * multiplied, NOT sqrt of the product), 6dp, signed zero
    * canonicalized. Degenerate groups: all-tied x → no (x1<x2) pairs →
    * the group drops out (inner join); all-tied y → tau_b NULL
    * (0-variance denominator over an exact 0∕0). */
  private[graft] def kendallOn(base: DataFrame): DataFrame = {
    val DT = org.apache.spark.sql.types.DecimalType
    // eager (r16): FIVE readers (ns/n1/n2 + both pair-join sides) of
    // the one corpus-sized collapse; a lazy persist raced under
    // concurrent AQE stages — up to 5 extra full scans at 100 TB
    // (Scope.eager's doc). The count is ≤ |domain_x × domain_y| rows
    // per group — bounded.
    val jt = Scope.eager(base.groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("c")))
    def cd(c: Column) = c.cast(DT(18, 0))
    val ns = jt.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val n1 = jt.groupBy(col("g"), col("x")).agg(sum(col("c")).as("tx"))
      .groupBy(col("g"))
      .agg(sum(cd(col("tx")) * (cd(col("tx")) - lit(1L))).as("n1p"))
    val n2 = jt.groupBy(col("g"), col("y")).agg(sum(col("c")).as("ty"))
      .groupBy(col("g"))
      .agg(sum(cd(col("ty")) * (cd(col("ty")) - lit(1L))).as("n2p"))
    val a = jt.select(col("g"), col("x").as("x1"), col("y").as("y1"),
      col("c").as("c1"))
    val b = jt.select(col("g").as("g2"), col("x").as("x2"),
      col("y").as("y2"), col("c").as("c2"))
    // an all-concordant (or all-discordant) group sums an empty when-
    // branch -> NULL; tau must read it as 0 pairs, not NULL
    val cdp = a.join(b, col("g") === col("g2") && col("x1") < col("x2"))
      .groupBy(col("g")).agg(
        coalesce(sum(when(col("y1") < col("y2"), cd(col("c1")) * col("c2"))),
          lit(0L).cast(DT(18, 0))).as("ncon"),
        coalesce(sum(when(col("y1") > col("y2"), cd(col("c1")) * col("c2"))),
          lit(0L).cast(DT(18, 0))).as("ndis"))
    def dbl(c: String) = col(c).cast("double")
    val nD = dbl("n")
    def half(tp: String) = (nD * (nD - 1.0) - dbl(tp)) / 2.0
    ns.join(cdp, Seq("g")).join(n1, Seq("g")).join(n2, Seq("g"))
      .select(col("g"), col("n"),
        (round((dbl("ncon") - dbl("ndis"))
          // nullif: ANSI double division throws on a 0 divisor; an
          // all-tied-y group has exactly-0 denominator -> NULL tau
          / nullif(sqrt(half("n1p")) * sqrt(half("n2p")), lit(0.0)), 6)
          + lit(0.0)).as("tau_b"))
      .orderBy(col("g"))
  }

  /** General-k Kruskal-Wallis over any (g, v) frame (facade path).
    * The graded q_agg_kruskal pins a PIVOTED 3-term IEEE chain so the
    * oracle can match bitwise; with arbitrary k the per-group terms
    * must be summed over group ROWS, whose addition order is engine-
    * chosen — harmless at 6dp for k doubles of O(1..100) magnitude,
    * but not textually pinnable, hence unit-tested rather than
    * oracle-graded. Shape: value collapse (∝ distinct v) + bounded
    * rank window + per-group exact rank sums (∝ k) + one k-row agg. */
  private[graft] def kruskalOn(base: DataFrame): DataFrame = {
    val DT = org.apache.spark.sql.types.DecimalType
    val vc = base.groupBy(col("v")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = vc.withColumn("cum", sum(col("n")).over(w))
      .withColumn("r",
        (lit(2L) * col("cum") - col("n") + lit(1L)).cast(DT(18, 0)))
    def cd(c: Column) = c.cast(DT(12, 0))
    val gv = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("ng"))
    val per = gv.join(rk.select(col("v"), col("r")), Seq("v"))
      .groupBy(col("g")).agg(sum(col("ng")).as("ni"),
        sum(cd(col("ng")) * col("r")).as("si"))
    val ties = rk.agg(coalesce(sum(col("n")), lit(0L)).as("nn"),
      sum(cd(col("n")) * cd(col("n")) * cd(col("n")) - cd(col("n")))
        .as("t3"))
    def dbl(c: String) = col(c).cast("double")
    val terms = per.agg(count(lit(1)).as("k"),
      sum((dbl("si") / 2.0) * (dbl("si") / 2.0) / dbl("ni")).as("rterm"))
    val g = terms.crossJoin(ties)
    val nD = dbl("nn")
    // nullif guards (ANSI): n<2 zeroes n^3-n; an all-tied corpus
    // zeroes the tie correction; n == k zeroes the eps divisor
    val h = (lit(12.0) / (nD * (nD + 1.0)) * col("rterm")
      - lit(3.0) * (nD + 1.0))
      .divide(nullif(
        lit(1.0) - dbl("t3") / nullif(nD * nD * nD - nD, lit(0.0)),
        lit(0.0)))
    g.select(col("nn").as("n_rows"), col("k"), h.as("h"))
      .select(col("n_rows"), col("k"), round(col("h"), 6).as("h_stat"),
        (round((col("h") - (col("k").cast("double") - 1.0))
          / nullif(col("n_rows").cast("double")
            - col("k").cast("double"), lit(0.0)), 6)
          + lit(0.0)).as("eps_sq"))
  }

  private[graft] def eqDepthOn(df: DataFrame, valueCol: String,
                               k: Int): DataFrame = {
    require(k >= 2, s"equi-depth needs k >= 2 buckets, got $k")
    import graft.operators.Percentiles
    val cuts = Percentiles.disc(
      df.select(col(valueCol)), Nil, valueCol,
      (1 until k).map(i => (i, k, s"c$i"))).drop("n")
    val bucket = (1 until k).foldLeft(lit(1)) { (acc, i) =>
      acc + (col(valueCol) > col(s"c$i")).cast("int") }
    df.filter(col(valueCol).isNotNull).crossJoin(broadcast(cuts))
      .select(bucket.as("bucket"), col(valueCol))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))
      .orderBy(col("bucket"))
  }

  private[queries] def pctDiscSql(src: String, grp: String, v: String,
                         weight: Option[String],
                         ps: Seq[(Int, Int, String)]): String = {
    val ranks = ps.zipWithIndex.map { case ((num, den, _), i) =>
      s"GREATEST(1, ($num * n + ${den - 1}) // $den) AS k$i"
    }.mkString(",\n              ")
    val outs = ps.zipWithIndex.map { case ((_, _, alias), i) =>
      s"MAX(CASE WHEN cum_start < k$i AND k$i <= cum_end THEN v END) AS $alias"
    }.mkString(",\n            ")
    s"""WITH ${pctMarked("", src, grp, v, weight)}, rk AS (
            SELECT *,
              $ranks
            FROM marked
          )
          SELECT $grp,
            $outs,
            CAST(MAX(n) AS BIGINT) AS n
          FROM rk GROUP BY $grp ORDER BY $grp"""
  }

  val oracle: Map[String, String] = Map(
    "q_agg_global" ->
      s"""SELECT COUNT(*) AS n_rows,
            ${sqlSum("l_quantity")} AS sum_qty,
            MIN(l_extendedprice) AS min_price,
            MAX(l_extendedprice) AS max_price,
            ${sqlAvg("l_extendedprice")} AS avg_price,
            COUNT(DISTINCT l_orderkey) AS n_orders
          FROM $li""",
    "q_agg_listagg" ->
      s"""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
            COUNT(*) AS n_nations
          FROM $nat JOIN $reg ON n_regionkey = r_regionkey
          GROUP BY r_name ORDER BY r_name""",
    // Window form only in the ORACLE (tiny grouped input); the Spark
    // side stays a pure aggregate chain.
    "q_agg_mode" ->
      s"""SELECT o_orderpriority, o_orderstatus AS modal_status, cnt FROM (
            SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
              ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                ORDER BY cnt DESC, o_orderstatus ASC) AS rn
            FROM $ords GROUP BY o_orderpriority, o_orderstatus) x
          WHERE rn = 1 ORDER BY o_orderpriority""",
    // The double conversions and op order mirror the Spark side exactly
    // (each CAST is one correctly-rounded conversion of an exact
    // decimal; the closed form is then pure IEEE arithmetic).
    "q_agg_corr" ->
      s"""SELECT l_returnflag, n,
            ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
              AS corr_qty_price
          FROM (
            SELECT l_returnflag, COUNT(*) AS n,
              SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sx,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(9,2))) AS sxx,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
            FROM $li GROUP BY l_returnflag) m
          ORDER BY l_returnflag""",
    // Same power-sum subquery as q_agg_corr; slope/intercept/R² are the
    // identical IEEE chain (same parenthesization) off the exact sums.
    "q_agg_regr" ->
      s"""SELECT l_returnflag,
            CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN
              ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS slope,
            CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN
              ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE), 6) END AS intercept,
            CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                  AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <> 0 THEN
              ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
            END AS r2,
            n
          FROM (
            SELECT l_returnflag, COUNT(*) AS n,
              SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sx,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(9,2))) AS sxx,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
            FROM $li GROUP BY l_returnflag) m
          ORDER BY l_returnflag""",
    "q_agg_group" ->
      s"""SELECT l_returnflag, l_linestatus,
            ${sqlSum("l_quantity")} AS sum_qty,
            ${sqlSum("l_extendedprice")} AS sum_base_price,
            ${sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
            ${Det.sqlSumProd("l_extendedprice", "(1 - l_discount) * (1 + l_tax)")} AS sum_charge,
            ${sqlAvg("l_quantity")} AS avg_qty,
            ${sqlAvg("l_extendedprice")} AS avg_price,
            ${sqlAvg("l_discount")} AS avg_disc,
            COUNT(*) AS count_order
          FROM $li GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",
    "q_agg_distinct" ->
      s"""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
            COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
          FROM $li GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_distinct" ->
      s"""SELECT DISTINCT c_mktsegment, c_nationkey FROM $cust
          ORDER BY c_mktsegment, c_nationkey""",
    "q_agg_rollup" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
            ${sqlSum("c_acctbal")} AS sum_bal,
            CAST(GROUPING(r_name) AS INTEGER) AS g_r,
            CAST(GROUPING(n_name) AS INTEGER) AS g_n
          FROM $cust
          JOIN $nat ON c_nationkey = n_nationkey
          JOIN $reg ON n_regionkey = r_regionkey
          GROUP BY ROLLUP(r_name, n_name)
          ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",
    "q_agg_cube" ->
      s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
            ${sqlSum("o_totalprice")} AS sum_price,
            CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_p,
            CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_s
          FROM $ords GROUP BY CUBE(o_orderpriority, o_orderstatus)
          ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""",
    // Two stacked decimal aggs; the (18,2) cast before the square
    // keeps the product exact in both engines; one division chain.
    "q_agg_hhi" ->
      s"""WITH r AS (
            SELECT c_mktsegment,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                AS DECIMAL(18,2)) AS rev
            FROM $ords JOIN $cust ON o_custkey = c_custkey
            GROUP BY c_mktsegment, c_custkey),
          g AS (
            SELECT c_mktsegment, COUNT(*) AS n_cust,
              SUM(rev) AS s, SUM(rev * rev) AS s2
            FROM r GROUP BY c_mktsegment)
          SELECT c_mktsegment, CAST(n_cust AS BIGINT) AS n_cust,
            ROUND(CAST(s2 AS DOUBLE)
              / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS hhi
          FROM g ORDER BY c_mktsegment""",
    // Doubled-average-rank Spearman: the rank CTEs mirror the Spark
    // distinct-value collapse; HUGEINT keeps the power sums exact
    // (Spark side: DECIMAL(38,0)); the final chain is q_agg_corr's.
    "q_agg_spearman" ->
      s"""WITH b AS (SELECT l_returnflag AS g,
              CAST(l_quantity AS DECIMAL(9,2)) AS x,
              CAST(l_extendedprice AS DECIMAL(12,2)) AS y FROM $li),
          xr0 AS (SELECT g, x, COUNT(*) AS c FROM b GROUP BY g, x),
          xr AS (SELECT g, x, c,
              2 * SUM(c) OVER (PARTITION BY g ORDER BY x ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - c + 1 AS r FROM xr0),
          yr0 AS (SELECT g, y, COUNT(*) AS c FROM b GROUP BY g, y),
          yr AS (SELECT g, y, c,
              2 * SUM(c) OVER (PARTITION BY g ORDER BY y ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - c + 1 AS r FROM yr0),
          xs AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
              SUM(CAST(c AS HUGEINT) * CAST(r AS HUGEINT)) AS sx,
              SUM(CAST(c AS HUGEINT) * CAST(r AS HUGEINT)
                  * CAST(r AS HUGEINT)) AS sxx
            FROM xr GROUP BY g),
          ys AS (SELECT g,
              SUM(CAST(c AS HUGEINT) * CAST(r AS HUGEINT)) AS sy,
              SUM(CAST(c AS HUGEINT) * CAST(r AS HUGEINT)
                  * CAST(r AS HUGEINT)) AS syy
            FROM yr GROUP BY g),
          p AS (SELECT g, x, y, COUNT(*) AS np FROM b GROUP BY 1, 2, 3),
          ps AS (SELECT p.g,
              SUM(CAST(p.np AS HUGEINT) * CAST(xr.r AS HUGEINT)
                  * CAST(yr.r AS HUGEINT)) AS sxy
            FROM p JOIN xr ON p.g = xr.g AND p.x = xr.x
                   JOIN yr ON p.g = yr.g AND p.y = yr.y GROUP BY 1)
          SELECT xs.g AS l_returnflag, n,
            ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
              AS rho_qty_price
          FROM xs JOIN ys ON xs.g = ys.g JOIN ps ON xs.g = ps.g
          ORDER BY l_returnflag""",
    // Mirrors the pivoted-terms discipline: decimal sums exact, ONE
    // cast to double each, the 3-term SSB addition textually
    // left-to-right — identical IEEE sequence, 6dp once.
    "q_agg_anova" ->
      s"""WITH a AS (
            SELECT
              COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS n_a,
              COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS n_n,
              COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_r,
              SUM(CASE WHEN l_returnflag = 'A'
                THEN CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_extendedprice AS DECIMAL(12,2)) END) AS ss_a,
              SUM(CASE WHEN l_returnflag = 'N'
                THEN CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_extendedprice AS DECIMAL(12,2)) END) AS ss_n,
              SUM(CASE WHEN l_returnflag = 'R'
                THEN CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_extendedprice AS DECIMAL(12,2)) END) AS ss_r,
              SUM(CASE WHEN l_returnflag = 'A'
                THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS s_a,
              SUM(CASE WHEN l_returnflag = 'N'
                THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS s_n,
              SUM(CASE WHEN l_returnflag = 'R'
                THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS s_r
            FROM $li),
          t AS (SELECT *,
              CAST(n_a + n_n + n_r AS DOUBLE) AS nd,
              CAST(s_a + s_n + s_r AS DOUBLE) AS st,
              CAST(ss_a + ss_n + ss_r AS DOUBLE) AS sst FROM a),
          f AS (SELECT *,
              (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
               + CAST(s_n AS DOUBLE) * CAST(s_n AS DOUBLE) / CAST(n_n AS DOUBLE)
               + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / CAST(n_r AS DOUBLE))
                - st * st / nd AS ssb,
              sst - st * st / nd AS stot FROM t)
          SELECT CAST(n_a + n_n + n_r AS BIGINT) AS n_rows,
            ROUND(ssb / stot, 6) AS eta_sq,
            ROUND((ssb / 2.0) / ((stot - ssb) / (nd - 3.0)), 6) AS f_stat
          FROM f""",
    // Kruskal-Wallis: the 50-cell value collapse + doubled-rank window,
    // HUGEINT power sums, the h CTE stage feeding eps_sq unrounded —
    // operand order textually matched to the Spark chain.
    "q_agg_kruskal" ->
      s"""WITH vc AS (
            SELECT CAST(l_quantity AS DECIMAL(9,2)) AS q, COUNT(*) AS n,
              COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS n_a,
              COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS n_n,
              COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_r
            FROM $li GROUP BY 1),
          rk AS (SELECT *,
              2 * SUM(n) OVER (ORDER BY q ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n + 1 AS r FROM vc),
          g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
              CAST(SUM(n_a) AS BIGINT) AS na,
              CAST(SUM(n_n) AS BIGINT) AS nb,
              CAST(SUM(n_r) AS BIGINT) AS nc,
              SUM(CAST(n_a AS HUGEINT) * CAST(r AS HUGEINT)) AS sa,
              SUM(CAST(n_n AS HUGEINT) * CAST(r AS HUGEINT)) AS sb,
              SUM(CAST(n_r AS HUGEINT) * CAST(r AS HUGEINT)) AS sc,
              SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
                  * CAST(n AS HUGEINT) - CAST(n AS HUGEINT)) AS t3
            FROM rk),
          t AS (SELECT nn,
              (12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
               * ((CAST(sa AS DOUBLE) / 2.0) * (CAST(sa AS DOUBLE) / 2.0)
                    / CAST(na AS DOUBLE)
                  + (CAST(sb AS DOUBLE) / 2.0) * (CAST(sb AS DOUBLE) / 2.0)
                    / CAST(nb AS DOUBLE)
                  + (CAST(sc AS DOUBLE) / 2.0) * (CAST(sc AS DOUBLE) / 2.0)
                    / CAST(nc AS DOUBLE))
               - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
              / (1.0 - CAST(t3 AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                    * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))) AS h
            FROM g)
          SELECT nn AS n_rows, ROUND(h, 6) AS h_stat,
            ROUND((h - 2.0) / (CAST(nn AS DOUBLE) - 3.0), 6) + 0.0
              AS eps_sq
          FROM t""",
    // Mann-Whitney: same collapse keyed on the linestatus arms; U is
    // exact and ships unrounded; z rounds 6dp.
    "q_agg_mwu" ->
      s"""WITH vc AS (
            SELECT CAST(l_quantity AS DECIMAL(9,2)) AS q, COUNT(*) AS n,
              COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o,
              COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f
            FROM $li GROUP BY 1),
          rk AS (SELECT *,
              2 * SUM(n) OVER (ORDER BY q ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n + 1 AS r FROM vc),
          g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
              CAST(SUM(n_o) AS BIGINT) AS no, CAST(SUM(n_f) AS BIGINT) AS nf,
              SUM(CAST(n_o AS HUGEINT) * CAST(r AS HUGEINT)) AS so,
              SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
                  * CAST(n AS HUGEINT) - CAST(n AS HUGEINT)) AS t3
            FROM rk),
          t AS (SELECT no AS n_o, nf AS n_f,
              CAST(so AS DOUBLE) / 2.0
                - CAST(no AS DOUBLE) * (CAST(no AS DOUBLE) + 1.0) / 2.0
                AS u_stat,
              CAST(no AS DOUBLE) * CAST(nf AS DOUBLE) / 12.0
              * ((CAST(nn AS DOUBLE) + 1.0) - CAST(t3 AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)))
                AS sig2
            FROM g)
          SELECT n_o, n_f, u_stat,
            ROUND((u_stat - CAST(n_o AS DOUBLE) * CAST(n_f AS DOUBLE) / 2.0)
              / sqrt(sig2), 6) + 0.0 AS z
          FROM t""",
    // Kendall tau-b: joint-cell self-join on (g, x<x2); HUGEINT C/D and
    // tie terms; the two sqrt factors multiplied (NOT sqrt of the
    // product — pinned to the Spark operand order).
    "q_agg_kendall" ->
      s"""WITH jt AS (
            SELECT l_returnflag AS g, CAST(l_quantity AS DECIMAL(9,2)) AS x,
              CAST(l_discount AS DECIMAL(4,2)) AS y, COUNT(*) AS c
            FROM $li GROUP BY 1, 2, 3),
          ns AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM jt GROUP BY g),
          n1 AS (SELECT g, SUM(CAST(tx AS HUGEINT)
                * (CAST(tx AS HUGEINT) - 1)) AS n1p
            FROM (SELECT g, x, SUM(c) AS tx FROM jt GROUP BY 1, 2)
            GROUP BY g),
          n2 AS (SELECT g, SUM(CAST(ty AS HUGEINT)
                * (CAST(ty AS HUGEINT) - 1)) AS n2p
            FROM (SELECT g, y, SUM(c) AS ty FROM jt GROUP BY 1, 2)
            GROUP BY g),
          cdp AS (SELECT a.g,
              COALESCE(SUM(CASE WHEN a.y < b.y
                THEN CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT) END), 0)
                AS ncon,
              COALESCE(SUM(CASE WHEN a.y > b.y
                THEN CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT) END), 0)
                AS ndis
            FROM jt a JOIN jt b ON a.g = b.g AND a.x < b.x GROUP BY 1)
          SELECT ns.g AS l_returnflag, n,
            ROUND((CAST(ncon AS DOUBLE) - CAST(ndis AS DOUBLE))
              / (sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                       - CAST(n1p AS DOUBLE)) / 2.0)
                 * sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                         - CAST(n2p AS DOUBLE)) / 2.0)), 6) + 0.0 AS tau_b
          FROM ns JOIN cdp ON ns.g = cdp.g JOIN n1 ON ns.g = n1.g
               JOIN n2 ON ns.g = n2.g
          ORDER BY l_returnflag""",
    "q_agg_gsets" ->
      s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
            ${sqlSum("o_totalprice")} AS sum_price,
            CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_p,
            CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_s
          FROM $ords GROUP BY GROUPING SETS
            ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
          ORDER BY o_orderpriority ASC NULLS FIRST,
            o_orderstatus ASC NULLS FIRST""",
    "q_agg_histogram" ->
      s"""SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bucket,
            COUNT(*) AS n_orders, ${sqlSum("o_totalprice")} AS sum_price
          FROM $ords GROUP BY 1 ORDER BY bucket""",
    // The rfm cut machinery over a global group (distinct-value
    // collapse + integer rank), strict-compare bucket assignment.
    "q_agg_eqdepth" -> {
      def k(i: Int) = s"GREATEST(1, ($i * n + 3) // 4)"
      val hits = (1 to 3).map(i =>
        s"MAX(CASE WHEN cum_start < ${k(i)} AND ${k(i)} <= cum_end THEN v END) AS c$i")
        .mkString(",\n              ")
      s"""WITH vc AS (
            SELECT o_totalprice AS v, COUNT(*) AS cnt FROM $ords
            WHERE o_totalprice IS NOT NULL GROUP BY 1),
          mk AS (
            SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum_end,
              SUM(cnt) OVER (ORDER BY v) - cnt AS cum_start,
              SUM(cnt) OVER () AS n FROM vc),
          ct AS (
            SELECT $hits
            FROM mk)
          SELECT bucket, COUNT(*) AS n, MIN(v) AS min_v, MAX(v) AS max_v
          FROM (
            SELECT 1 + CAST(o_totalprice > c1 AS INTEGER)
                     + CAST(o_totalprice > c2 AS INTEGER)
                     + CAST(o_totalprice > c3 AS INTEGER) AS bucket,
              o_totalprice AS v
            FROM $ords CROSS JOIN ct) x
          GROUP BY 1 ORDER BY 1"""
    },
    "q_agg_minmaxby" ->
      s"""SELECT c_nationkey, c_custkey, c_name, c_acctbal FROM (
            SELECT c_nationkey, c_custkey, c_name, c_acctbal,
              ROW_NUMBER() OVER (PARTITION BY c_nationkey
                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
            FROM $cust) x
          WHERE rn = 1 ORDER BY c_nationkey""",
    "q_pivot" ->
      s"""SELECT user_id % 10 AS bucket,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
            CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
            CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
          FROM $evt GROUP BY 1 ORDER BY bucket""",
    "q_agg_stddev" ->
      s"""SELECT o_orderstatus, n,
            CASE WHEN n > 1 THEN
              ROUND(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6) END
              AS stddev_price,
            ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_price
          FROM (
            SELECT o_orderstatus, COUNT(*) AS n,
              SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS sx,
              SUM(CAST(o_totalprice AS DECIMAL(12,2))
                  * CAST(o_totalprice AS DECIMAL(12,2))) AS sxx
            FROM $ords GROUP BY o_orderstatus) m
          ORDER BY o_orderstatus""",
    // Same staged shape as regr2: sums CTE → doubles/centered CTE →
    // per-row d² → ranked top 3; rank on the UNROUNDED d².
    "q_agg_mahal" ->
      s"""WITH m AS (
            SELECT l_returnflag AS rf, COUNT(*) AS n,
              SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sx,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(9,2))) AS sxx,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
            FROM $li GROUP BY 1),
          st AS (
            SELECT rf, CAST(n AS DOUBLE) AS nd,
              CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
              CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS c11,
              CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS c22,
              CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS c12
            FROM m),
          r AS (
            SELECT l.l_returnflag, l.l_orderkey, l.l_linenumber,
              l.l_quantity, l.l_extendedprice,
              CASE WHEN st.c11 * st.c22 - st.c12 * st.c12 <> 0 THEN
                (st.c22 * (l.l_quantity - st.sx / st.nd)
                    * (l.l_quantity - st.sx / st.nd)
                 - CAST(2 AS DOUBLE) * st.c12
                    * (l.l_quantity - st.sx / st.nd)
                    * (l.l_extendedprice - st.sy / st.nd)
                 + st.c11 * (l.l_extendedprice - st.sy / st.nd)
                    * (l.l_extendedprice - st.sy / st.nd))
                * st.nd * st.nd
                / (st.c11 * st.c22 - st.c12 * st.c12)
              END AS d2
            FROM $li l JOIN st ON l.l_returnflag = st.rf)
          SELECT l_returnflag, CAST(rk AS INTEGER) AS rk, l_orderkey,
            l_linenumber, l_quantity, l_extendedprice,
            round(d2, 6) AS mahal_d2
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                  ORDER BY d2 DESC, l_orderkey ASC, l_linenumber ASC) AS rk
                FROM r) z
          WHERE rk <= 3 ORDER BY l_returnflag, rk""",
    // Same cents-domain HUGEINT chain as the Spark side: one ordered
    // cumulative per group over the distinct-value collapse, exact
    // integer terms, one division at the end.
    "q_agg_gini" ->
      s"""WITH vc AS (
            SELECT o_orderstatus,
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
              COUNT(*) AS w
            FROM $ords WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
          cum AS (
            SELECT o_orderstatus, c, w,
              SUM(CAST(w * c AS HUGEINT))
                OVER (PARTITION BY o_orderstatus ORDER BY c) AS s_cum
            FROM vc),
          t AS (
            SELECT o_orderstatus, w,
              CAST(w * c AS HUGEINT) AS wc,
              CAST(w AS HUGEINT)
                * (s_cum + s_cum - CAST(w * c AS HUGEINT)) AS term
            FROM cum),
          g AS (
            SELECT o_orderstatus, SUM(term) AS x, SUM(wc) AS s_tot,
              SUM(w) AS w_tot
            FROM t GROUP BY 1)
          SELECT o_orderstatus, CAST(w_tot AS BIGINT) AS n,
            CASE WHEN s_tot > 0 THEN
              ROUND(CAST(1 AS DOUBLE) - CAST(x AS DOUBLE)
                / CAST(CAST(w_tot AS HUGEINT) * s_tot AS DOUBLE), 6)
            END AS gini
          FROM g ORDER BY o_orderstatus""",
    // Staged CTEs mirror the Spark builder's val chain: sums → doubles
    // → centered sums (each ONCE) → det/b1/b2 → guarded output.
    "q_agg_regr2" ->
      s"""WITH m AS (
            SELECT l_returnflag, COUNT(*) AS n,
              SUM(CAST(l_quantity AS DECIMAL(9,2))) AS s1,
              SUM(CAST(l_discount AS DECIMAL(8,4))) AS s2,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(9,2))) AS s11,
              SUM(CAST(l_discount AS DECIMAL(8,4))
                  * CAST(l_discount AS DECIMAL(8,4))) AS s22,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_discount AS DECIMAL(8,4))) AS s12,
              SUM(CAST(l_quantity AS DECIMAL(9,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS s1y,
              SUM(CAST(l_discount AS DECIMAL(8,4))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS s2y,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
            FROM $li GROUP BY 1),
          c AS (
            SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
              CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
              CAST(sy AS DOUBLE) AS sy,
              CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS c11,
              CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
                - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c22,
              CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c12,
              CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) AS c1y,
              CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE)
                - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) AS c2y,
              CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy
            FROM m),
          b AS (
            SELECT *, c11 * c22 - c12 * c12 AS det,
              (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
              (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
            FROM c)
          SELECT l_returnflag, n,
            CASE WHEN det <> 0 THEN ROUND(b1, 6) END AS b_qty,
            CASE WHEN det <> 0 THEN ROUND(b2, 6) END AS b_disc,
            CASE WHEN det <> 0 THEN
              ROUND((sy - b1 * s1 - b2 * s2) / nd, 6) END AS intercept,
            CASE WHEN det <> 0 AND cyy <> 0 THEN
              ROUND((b1 * c1y + b2 * c2y) / cyy, 6) END AS r2
          FROM b ORDER BY l_returnflag""",
    // HUGEINT = DuckDB's DECIMAL(38,0)-twin exact-integer domain (the
    // PageRank precedent); m2/m3/m4 and the ratios are textually the
    // Spark op trees — identical IEEE sequences.
    "q_agg_moments" ->
      s"""WITH q AS (
            SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qi FROM $li),
          m AS (
            SELECT l_returnflag, COUNT(*) AS n,
              SUM(CAST(qi AS HUGEINT)) AS s1,
              SUM(CAST(qi * qi AS HUGEINT)) AS s2,
              SUM(CAST(qi * qi * qi AS HUGEINT)) AS s3,
              SUM(CAST(qi * qi * qi * qi AS HUGEINT)) AS s4
            FROM q GROUP BY 1),
          d AS (
            SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
              CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
              CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
            FROM m),
          c AS (
            SELECT l_returnflag, n, nd, s1,
              (nd * s2 - s1 * s1) / (nd * nd) AS m2,
              (nd * nd * s3 - CAST(3 AS DOUBLE) * nd * s1 * s2
               + CAST(2 AS DOUBLE) * s1 * s1 * s1) / (nd * nd * nd) AS m3,
              (nd * nd * nd * s4
               - CAST(4 AS DOUBLE) * nd * nd * s1 * s3
               + CAST(6 AS DOUBLE) * nd * s1 * s1 * s2
               - CAST(3 AS DOUBLE) * s1 * s1 * s1 * s1)
                / (nd * nd * nd * nd) AS m4
            FROM d)
          SELECT l_returnflag, n,
            ROUND(s1 / nd, 6) AS mean_qty,
            ROUND(m2, 6) AS var_pop,
            CASE WHEN n > 1 AND m2 > 0
                 THEN ROUND(m3 / (m2 * sqrt(m2)), 6) END AS skewness,
            CASE WHEN n > 1 AND m2 > 0
                 THEN ROUND(m4 / (m2 * m2) - CAST(3 AS DOUBLE), 6)
            END AS kurtosis
          FROM c ORDER BY l_returnflag""",
    "q_unpivot" ->
      s"""SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
          FROM ${tbl("part")}
          UNION ALL
          SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val
          FROM ${tbl("part")}
          ORDER BY p_partkey, metric""",
    "q_sort" ->
      s"""SELECT o_orderkey, o_totalprice, o_orderdate FROM $ords
          ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC""",
    "q_limit" ->
      s"""SELECT o_orderkey, o_totalprice FROM $ords
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
    "q_topk_group" ->
      s"""SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
              ROW_NUMBER() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
            FROM $ords) x
          WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q_union_all" ->
      s"""SELECT 'hv' AS tag, o_orderkey FROM $ords WHERE o_totalprice > 400000
          UNION ALL
          SELECT 'recent' AS tag, o_orderkey FROM $ords
          WHERE o_orderdate >= TIMESTAMP '2001-01-01'
          ORDER BY tag, o_orderkey""",
    "q_union" ->
      s"""SELECT o_orderkey FROM $ords WHERE o_totalprice > 400000
          UNION
          SELECT o_orderkey FROM $ords WHERE o_orderdate >= TIMESTAMP '2001-01-01'
          ORDER BY o_orderkey""",
    "q_intersect" ->
      s"""SELECT c_custkey FROM $cust WHERE c_mktsegment = 'BUILDING'
          INTERSECT
          SELECT c_custkey FROM $cust WHERE c_acctbal > 5000
          ORDER BY c_custkey""",
    "q_except" ->
      s"""SELECT c_custkey FROM $cust WHERE c_mktsegment = 'BUILDING'
          EXCEPT
          SELECT o_custkey AS c_custkey FROM $ords WHERE o_orderstatus = 'O'
          ORDER BY c_custkey""",
    "q_intersect_all" ->
      s"""SELECT o_custkey FROM $ords WHERE o_orderstatus = 'O'
          INTERSECT ALL
          SELECT o_custkey FROM $ords WHERE o_totalprice > 200000
          ORDER BY o_custkey""",
    "q_except_all" ->
      s"""SELECT o_custkey FROM $ords WHERE o_orderstatus = 'O'
          EXCEPT ALL
          SELECT o_custkey FROM $ords WHERE o_totalprice > 200000
          ORDER BY o_custkey""",
    "q_agg_pctile" ->
      s"""WITH ${pctContCtes("", ords, "o_orderstatus", "o_totalprice", None, Seq("0.5", "0.9"))}
          SELECT o_orderstatus,
            round(${pctContVal(0)}, 6) AS median_price,
            round(${pctContVal(1)}, 6) AS p90_price,
            n
          FROM ag ORDER BY o_orderstatus""",
    // Exact decimal customer revenues, identical (rev desc, custkey)
    // top-k cuts, one unrounded IEEE division.
    "q_agg_topshare" ->
      s"""WITH c AS (
            SELECT o_custkey,
              SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
            FROM $ords GROUP BY 1),
          tot AS (SELECT SUM(rev) AS tot FROM c),
          t10 AS (
            SELECT 10 AS k, SUM(rev) AS top_rev FROM (
              SELECT rev FROM c
              ORDER BY rev DESC, o_custkey ASC LIMIT 10) x),
          t100 AS (
            SELECT 100 AS k, SUM(rev) AS top_rev FROM (
              SELECT rev FROM c
              ORDER BY rev DESC, o_custkey ASC LIMIT 100) x)
          SELECT k,
            CAST(ROUND(top_rev, 4) AS DOUBLE) AS top_rev,
            CAST(ROUND(tot, 4) AS DOUBLE) AS total_rev,
            CAST(ROUND(top_rev, 4) AS DOUBLE)
              / CAST(ROUND(tot, 4) AS DOUBLE) AS share
          FROM (SELECT * FROM t10 UNION ALL SELECT * FROM t100) u
          CROSS JOIN tot ORDER BY k""",
    // The GENERATED cont chain at the quartiles, fence arithmetic on the
    // unrounded values in the Spark operand order, 6dp only at output.
    "q_agg_boxplot" ->
      s"""WITH ${pctContCtes("b", ords, "o_orderstatus", "o_totalprice", None, Seq("0.25", "0.5", "0.75"))},
          fen AS (
            SELECT o_orderstatus,
              ${pctContVal(0)} AS q1v, ${pctContVal(1)} AS medv,
              ${pctContVal(2)} AS q3v, n
            FROM bag),
          mm AS (
            SELECT o_orderstatus, MIN(o_totalprice) AS min_v,
              MAX(o_totalprice) AS max_v
            FROM $ords GROUP BY 1),
          fl AS (
            SELECT fen.*, mm.min_v, mm.max_v,
              q1v - (q3v - q1v) * 1.5 AS f_lo,
              q3v + (q3v - q1v) * 1.5 AS f_hi
            FROM fen JOIN mm USING (o_orderstatus)),
          oc AS (
            SELECT o.o_orderstatus,
              SUM(CASE WHEN o.o_totalprice < f.f_lo THEN 1 ELSE 0 END)
                AS n_out_lo,
              SUM(CASE WHEN o.o_totalprice > f.f_hi THEN 1 ELSE 0 END)
                AS n_out_hi
            FROM $ords o JOIN fl f ON o.o_orderstatus = f.o_orderstatus
            GROUP BY 1)
          SELECT f.o_orderstatus, n, min_v,
            ROUND(q1v, 6) AS q1, ROUND(medv, 6) AS median,
            ROUND(q3v, 6) AS q3, max_v,
            CAST(n_out_lo AS BIGINT) AS n_out_lo,
            CAST(n_out_hi AS BIGINT) AS n_out_hi
          FROM fl f JOIN oc USING (o_orderstatus)
          ORDER BY o_orderstatus""",
    "q_agg_wmedian" ->
      pctDiscSql(li, "l_returnflag", "l_extendedprice", Some("l_quantity"),
        Seq((1, 2, "wmedian"), (9, 10, "wp90"))),
    "q_agg_wmedian_cont" ->
      s"""WITH ${pctContCtes("", li, "l_returnflag", "l_extendedprice",
              Some("l_quantity"), Seq("0.5", "0.9"))}
          SELECT l_returnflag,
            round(${pctContVal(0)}, 6) AS wmedian_c,
            round(${pctContVal(1)}, 6) AS wp90_c,
            n
          FROM ag ORDER BY l_returnflag""",
    "q_agg_mad" ->
      s"""WITH ${pctContCtes("m1", ords, "o_orderstatus", "o_totalprice", None, Seq("0.5"))}, med AS (
            SELECT o_orderstatus AS st, ${pctContVal(0)} AS med FROM m1ag
          ), dev AS (
            SELECT o.o_orderstatus,
              abs(CAST(o.o_totalprice AS DOUBLE) - m.med) AS adev
            FROM $ords o JOIN med m ON o.o_orderstatus = m.st
          ), ${pctContCtes("m2", "dev", "o_orderstatus", "adev", None, Seq("0.5"))}
          SELECT o_orderstatus, round(${pctContVal(0)}, 6) AS mad, n
          FROM m2ag ORDER BY o_orderstatus""",
    "q_agg_pctile_disc" ->
      pctDiscSql(ords, "o_orderstatus", "o_totalprice", None,
        Seq((0, 1, "pmin_disc"), (5, 10, "median_disc"), (9, 10, "p90_disc"))),
    // Cut derivation is the GENERATED discrete-percentile chain (the
    // same pctMarked CTE the engine's disc twin uses — twin drift
    // structurally impossible); the clip stays in the exact decimal
    // domain with NULL prices excluded explicitly (the two engines'
    // LEAST/GREATEST NULL semantics differ).
    "q_agg_winsor" ->
      s"""WITH ${pctMarked("", ords, "o_orderstatus", "o_totalprice", None)}, rk AS (
            SELECT *,
              GREATEST(1, (1 * n + 19) // 20) AS k0,
              GREATEST(1, (19 * n + 19) // 20) AS k1
            FROM marked
          ), cuts AS (
            SELECT o_orderstatus AS st,
              MAX(CASE WHEN cum_start < k0 AND k0 <= cum_end THEN v END) AS winsor_lo,
              MAX(CASE WHEN cum_start < k1 AND k1 <= cum_end THEN v END) AS winsor_hi
            FROM rk GROUP BY 1
          )
          SELECT o.o_orderstatus,
            c.winsor_lo, c.winsor_hi,
            round(CAST(SUM(LEAST(GREATEST(o.o_totalprice, c.winsor_lo),
                                 c.winsor_hi)) AS DOUBLE)
                  / COUNT(*), 6) AS winsor_mean,
            COUNT(*) AS n
          FROM $ords o JOIN cuts c
            ON o.o_orderstatus IS NOT DISTINCT FROM c.st
          WHERE o.o_totalprice IS NOT NULL
          GROUP BY 1, c.winsor_lo, c.winsor_hi
          ORDER BY o.o_orderstatus""",
    // Same generated-cut chain as q_agg_winsor; survivors filtered by
    // inclusive BETWEEN instead of clipped.
    "q_agg_trimmed" ->
      s"""WITH ${pctMarked("", ords, "o_orderstatus", "o_totalprice", None)}, rk AS (
            SELECT *,
              GREATEST(1, (1 * n + 19) // 20) AS k0,
              GREATEST(1, (19 * n + 19) // 20) AS k1
            FROM marked
          ), cuts AS (
            SELECT o_orderstatus AS st,
              MAX(CASE WHEN cum_start < k0 AND k0 <= cum_end THEN v END) AS trim_lo,
              MAX(CASE WHEN cum_start < k1 AND k1 <= cum_end THEN v END) AS trim_hi
            FROM rk GROUP BY 1
          )
          SELECT o.o_orderstatus,
            c.trim_lo, c.trim_hi,
            round(CAST(SUM(CASE WHEN o.o_totalprice
                                BETWEEN c.trim_lo AND c.trim_hi
                                THEN o.o_totalprice END) AS DOUBLE)
                  / COUNT(CASE WHEN o.o_totalprice
                               BETWEEN c.trim_lo AND c.trim_hi
                               THEN 1 END), 6) AS trimmed_mean,
            COUNT(CASE WHEN o.o_totalprice BETWEEN c.trim_lo AND c.trim_hi
                       THEN 1 END) AS n_kept,
            COUNT(*) AS n
          FROM $ords o JOIN cuts c
            ON o.o_orderstatus IS NOT DISTINCT FROM c.st
          WHERE o.o_totalprice IS NOT NULL
          GROUP BY 1, c.trim_lo, c.trim_hi
          ORDER BY o.o_orderstatus""",
    "q_nulls" ->
      s"""SELECT parity, COUNT(*) AS n_rows,
            COUNT(c_custkey) AS n_cust,
            COUNT(cnt) AS n_matched,
            CAST(SUM(CASE WHEN c_custkey IS NOT DISTINCT FROM o_custkey
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nse,
            CAST(SUM(COALESCE(cnt, 0)) AS BIGINT) AS orders_total
          FROM (
            SELECT a.c_custkey, a.c_acctbal, b.o_custkey, b.cnt,
              a.c_custkey % 2 AS parity
            FROM (SELECT c_custkey, c_acctbal FROM $cust WHERE c_custkey % 3 = 0) a
            FULL OUTER JOIN
              (SELECT o_custkey, COUNT(*) AS cnt FROM $ords
               WHERE o_custkey % 5 = 0 GROUP BY o_custkey) b
              ON a.c_custkey = b.o_custkey) x
          GROUP BY parity ORDER BY parity ASC NULLS FIRST""",
    "q_gen_range" ->
      s"""SELECT bucket, COALESCE(n_orders, 0) AS n_orders
          FROM (SELECT UNNEST(range(0, 10)) AS bucket) g
          LEFT JOIN (SELECT o_orderkey % 10 AS ob, COUNT(*) AS n_orders
                     FROM $ords GROUP BY 1) c ON bucket = ob
          ORDER BY bucket""",
    // integer bit algebra end to end — the only float-free aggregate row;
    // bit_count is cast to INT (DuckDB returns TINYINT, Spark INT)
    "q_agg_bitmask" ->
      s"""SELECT o_custkey,
            bit_or(CAST(1 AS BIGINT) << (month(o_orderdate) - 1)) AS month_mask,
            bit_xor(CAST(1 AS BIGINT) << (month(o_orderdate) - 1)) AS parity_mask,
            COUNT(*) AS n_orders,
            CAST(bit_count(bit_or(CAST(1 AS BIGINT) << (month(o_orderdate) - 1)))
                 AS INTEGER) AS n_active_months
          FROM $ords GROUP BY o_custkey ORDER BY o_custkey""",
    // Same md5-derived hash both engines; bottom-k via ROW_NUMBER;
    // exact integer floor-div estimate; sub-k groups take the exact
    // branch; one audited IEEE division at 6dp.
    "q_agg_kmv" ->
      s"""WITH hv AS (SELECT DISTINCT l_returnflag AS g,
              ${Det.sqlMd5h32("CAST(l_partkey AS VARCHAR)")} AS h
            FROM $li),
          bot AS (SELECT g, COUNT(*) AS n_bot, MAX(h) AS h_k
                  FROM (SELECT g, h, ROW_NUMBER() OVER (
                          PARTITION BY g ORDER BY h ASC) AS rk FROM hv) z
                  WHERE rk <= $KmvK GROUP BY g),
          tr AS (SELECT l_returnflag AS g, COUNT(DISTINCT l_partkey) AS n_true
                 FROM $li GROUP BY 1),
          j AS (SELECT tr.g, tr.n_true, bot.h_k,
                  CASE WHEN bot.n_bot < $KmvK THEN bot.n_bot
                    ELSE (${KmvK - 1} * 4294967296) // bot.h_k
                  END AS est
                FROM tr JOIN bot ON tr.g = bot.g)
          SELECT g, CAST(n_true AS BIGINT) AS n_true, h_k,
            CAST(est AS BIGINT) AS est,
            ROUND(CAST((est - n_true) * 100 AS DOUBLE)
              / CAST(n_true AS DOUBLE), 6) AS err_pct
          FROM j ORDER BY g""",
    // Exact-decimal bucket sums; each replicate one IEEE division,
    // HUGEINT-quantized at 1e9; pinned SE chain; md5 buckets.
    "q_agg_jackknife" ->
      s"""WITH b AS (
            SELECT ${Det.sqlMd5h32("CAST(l_orderkey AS VARCHAR)")} % 10 AS b,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp,
              SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sq
            FROM $li GROUP BY 1),
          t AS (SELECT SUM(sp) AS tp, SUM(sq) AS tq, COUNT(*) AS nb FROM b),
          r AS (SELECT t.tp, t.tq, t.nb,
              CAST(ROUND(CASE WHEN t.tq - b.sq = 0 THEN NULL
                ELSE CAST(t.tp - b.sp AS DOUBLE)
                / CAST(t.tq - b.sq AS DOUBLE) END * 1e9) AS BIGINT) AS rq
            FROM b CROSS JOIN t),
          a AS (SELECT tp, tq, nb,
              SUM(CAST(rq AS HUGEINT)) AS s1,
              SUM(CAST(rq AS HUGEINT) * rq) AS s2,
              COUNT(rq) AS nr
            FROM r GROUP BY tp, tq, nb)
          SELECT
            ROUND(CAST(tp AS DOUBLE) / CAST(tq AS DOUBLE), 6) AS ratio,
            CAST(nb AS BIGINT) AS n_buckets,
            CASE WHEN nr = nb THEN
              ROUND(SQRT((CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE)
                * (CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / CAST(nb AS DOUBLE)))
                / 1e9, 6) END AS se_jack
          FROM a""",
    // Walsh pairs off the cell AGGREGATE; doubled averages stay exact
    // decimals; ceil(W/2) integer rank; one exact halving at the end.
    "q_agg_hodgeslehmann" ->
      s"""WITH cells AS (
            SELECT l_returnflag AS g, CAST(l_quantity AS DECIMAL(9,2)) AS x,
              COUNT(*) AS w
            FROM $li GROUP BY 1, 2),
          p AS (
            SELECT a.g, CAST(a.x + b.x AS DECIMAL(10,2)) AS s2x,
              CASE WHEN a.x < b.x THEN a.w * b.w
                   ELSE a.w * (a.w + 1) // 2 END AS pw
            FROM cells a JOIN cells b ON a.g = b.g AND a.x <= b.x),
          wa AS (SELECT g, s2x, SUM(pw) AS pw FROM p GROUP BY 1, 2),
          t AS (SELECT g, SUM(pw) AS wt FROM wa GROUP BY g),
          c AS (
            SELECT wa.g, wa.s2x, wa.pw, t.wt,
              SUM(wa.pw) OVER (PARTITION BY wa.g ORDER BY wa.s2x ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM wa JOIN t ON wa.g = t.g)
          SELECT g, CAST(wt AS BIGINT) AS n_pairs,
            CAST(s2x AS DOUBLE) / 2.0 AS hl
          FROM c
          WHERE cum - pw < (wt + 1) // 2 AND (wt + 1) // 2 <= cum
          ORDER BY g""",
    // Four UNION'd hash rows → 256-cell counter table; the same
    // "i#key" hash probes it for the top-10 keys; min over rows.
    "q_agg_cms" -> {
      val hitRows = (0 until CmsRows).map { i =>
        s"SELECT $i AS r, ${Det.sqlMd5h32(s"'$i#' || CAST(l_partkey AS VARCHAR)")} % $CmsWidth AS bkt FROM $li"
      }.mkString("\n            UNION ALL ")
      val probeRows = (0 until CmsRows).map { i =>
        s"SELECT l_partkey, n_true, $i AS r, ${Det.sqlMd5h32(s"'$i#' || CAST(l_partkey AS VARCHAR)")} % $CmsWidth AS bkt FROM top"
      }.mkString("\n            UNION ALL ")
      s"""WITH hits AS (
            $hitRows),
          ctr AS (SELECT r, bkt, COUNT(*) AS cnt FROM hits GROUP BY 1, 2),
          top AS (SELECT l_partkey, COUNT(*) AS n_true FROM $li
                  GROUP BY 1 ORDER BY n_true DESC, l_partkey ASC
                  LIMIT $CmsTopK),
          probe AS (
            $probeRows),
          est AS (SELECT p.l_partkey, p.n_true, MIN(c.cnt) AS cms_est
                  FROM probe p JOIN ctr c ON p.r = c.r AND p.bkt = c.bkt
                  GROUP BY 1, 2)
          SELECT l_partkey, CAST(n_true AS BIGINT) AS n_true,
            CAST(cms_est AS BIGINT) AS cms_est,
            CAST(cms_est - n_true AS BIGINT) AS overcount
          FROM est ORDER BY n_true DESC, l_partkey ASC"""
    },
    // The identical 8 md5-parity signed sums in one pass, the exact
    // integer floor-div mean of their squares; exact Σc² audit; one
    // guarded double ratio.
    "q_agg_ams" -> {
      val zCols = (0 until AmsRows).map { i =>
        s"SUM(CASE WHEN ${Det.sqlMd5h32(s"'$i#' || CAST(l_partkey AS VARCHAR)")} % 2 = 0 THEN 1 ELSE -1 END) AS z$i"
      }.mkString(",\n              ")
      val squares = (0 until AmsRows).map(i => s"z$i * z$i").mkString(" + ")
      s"""WITH z AS (
            SELECT $zCols
            FROM $li),
          est AS (
            SELECT ($squares) // $AmsRows AS f2_est
            FROM z),
          ex AS (
            SELECT SUM(c * c) AS f2_exact FROM (
              SELECT COUNT(*) AS c FROM $li GROUP BY l_partkey))
          SELECT CAST(f2_exact AS BIGINT) AS f2_exact,
            CAST(f2_est AS BIGINT) AS f2_est,
            CASE WHEN f2_exact > 0 THEN
              ROUND(CAST(f2_est AS DOUBLE) / CAST(f2_exact AS DOUBLE), 6)
            END AS est_ratio
          FROM ex CROSS JOIN est"""
    }
  )
}
