package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Tables => T}

/** SURVEY §2.5: window functions (ranking, lag/lead, frames).
  *
  * Scale note: WindowExec sorts within hash partitions of the PARTITION BY
  * key — one shuffle per distinct partitioning, reused across functions
  * over the same window spec. Running sums use the decimal domain so the
  * cumulative reduction is order-exact (§7.4).
  */
object WindowFns {
  type Q = (SparkSession, String) => DataFrame
  import Det.tbl

  val queries: Map[String, Q] = Map(
    // Ranking family over (nation, acctbal desc, custkey) — fully
    // deterministic ordering (unique key last).
    "q_win_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      T.customer(s, d).select(
        col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        // unrounded: (rank-1)/(n-1) is one IEEE division of exact ints —
        // bit-identical across engines; rounding would re-introduce the
        // .5-boundary hazard documented at q_win_dist's cd
        percent_rank().over(w).as("pct_rank"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    }),

    // Per-user lag/lead + inter-event gap in µs (the reference's per-key
    // predecessor lookup, SURVEY §1.1 / §2.5).
    "q_win_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      T.events(s, d).select(
        col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // Distribution + navigation family over the full-partition frame:
    // first/last/nth value (richest, poorest, runner-up per nation) and
    // cume_dist. Deterministic: the order key ends in the unique custkey.
    "q_win_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      val frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T.customer(s, d).select(
        col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        first(col("c_custkey")).over(frame).as("richest"),
        last(col("c_custkey")).over(frame).as("poorest"),
        nth_value(col("c_custkey"), 2).over(frame).as("runner_up"),
        // NO rounding: cume_dist = k/n, one IEEE division of two exact
        // ints — bit-identical across engines. Rounding is the UNSAFE
        // choice here: partition sizes like 640 = 2⁷·5 make k/n land
        // exactly on .5×10⁻⁶ boundaries, where Spark's exact-decimal
        // HALF_UP and DuckDB's float-domain round() disagree (caught by
        // the sf0.1 parity sweep; sf0.01 never hits a boundary).
        cume_dist().over(w).as("cd"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    }),

    // Frame-spec aggregates: running revenue per customer + 3-row moving
    // average, both in the exact decimal domain then cast (§7.4).
    "q_win_frame" -> ((s, d) => {
      val base = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov = base.rowsBetween(-2, 0)
      T.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum(col("o_totalprice").cast(Det.Dec)).over(cum), 4)
          .cast("double").as("running_rev"),
        (round(sum(col("o_totalprice").cast(Det.Dec)).over(mov), 4).cast("double")
          / count(lit(1)).over(mov)).as("mov3_avg"))
        .orderBy(col("o_orderkey"))
    }),

    // Value-based RANGE frame (vs q_win_frame's row-based ROWS): per
    // customer ordered by o_totalprice, how many of their orders fall
    // within 10000 below this one, and their decimal sum. RANGE frames
    // are peer-inclusive — rows tied on the order key share one frame —
    // so the result is deterministic WITHOUT a unique tiebreak column
    // (ROWS would be ambiguous under ties; RANGE is the frame kind that
    // tolerates them). Same single hash-partition shuffle as every
    // window over the customer key.
    "q_win_rangeframe" -> ((s, d) => {
      // expr-text frame: the typed rangeBetween(Long) API hard-casts its
      // boundaries while the SQL path coerces the 10000 literal to the
      // DOUBLE order key — same analyzed plan, no boundary-type friction.
      val fr = "PARTITION BY o_custkey ORDER BY o_totalprice ASC " +
        "RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW"
      T.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        expr(s"count(1) OVER ($fr)").as("n_band"),
        expr(s"CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER ($fr), 4) AS DOUBLE)")
          .as("band_rev"))
        .orderBy(col("o_orderkey"))
    }),

    // TIME-interval RANGE frame (r13) — the event-time rolling
    // aggregate q_win_rangeframe's value-range frame can't express: per
    // user at each event, the count and decimal value sum of that
    // user's events in the trailing hour (current row inclusive),
    // graded through the public facade (graft.Graft.trailingAgg, the
    // event id carried through). The frame orders by exact µs with a
    // 3600000000-µs RANGE bound; RANGE peers (same-µs events) share one
    // frame, so no unique tiebreak is needed INSIDE the frame (the
    // q_win_rangeframe determinism argument) while the presentation
    // order keys on the unique event_id. The sum rides the exact
    // decimal domain (order-free across engines); null ts rows are
    // excluded up front (the r13 as-of discipline — a null order key
    // sorts differently across engines). Plan: ONE user-hash exchange
    // + in-partition sort; WindowExec's sliding time frame is O(rows)
    // two-pointer state per partition — at 100 TB this is the per-key
    // linear pass a trailing-window metric costs at minimum.
    "q_win_timerange" -> ((s, d) =>
      graft.Graft.trailingAgg(T.events(s, d), "user_id", "ts", "value",
          3600000000L, idCol = Some("event_id"))
        .select(col("event_id"), col("key").as("user_id"), col("us"),
          col("n_win").as("n_1h"), col("val_win").as("val_1h"))
        .orderBy(col("event_id")))
  )

  private val cust = tbl("customer"); private val evt = tbl("events")
  private val ords = tbl("orders")

  val oracle: Map[String, String] = Map(
    "q_win_rank" ->
      s"""SELECT c_nationkey, c_custkey, c_acctbal,
            CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
            CAST(RANK() OVER w AS INTEGER) AS rnk,
            CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
            CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
            PERCENT_RANK() OVER w AS pct_rank
          FROM $cust
          WINDOW w AS (PARTITION BY c_nationkey
            ORDER BY c_acctbal DESC, c_custkey ASC)
          ORDER BY c_nationkey, c_custkey""",
    "q_win_lag" ->
      s"""SELECT event_id, user_id, value,
            LAG(value, 1) OVER w AS prev_value,
            LEAD(value, 1) OVER w AS next_value,
            epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap_us
          FROM $evt
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
          ORDER BY event_id""",
    "q_win_dist" ->
      s"""SELECT c_nationkey, c_custkey, c_acctbal,
            FIRST_VALUE(c_custkey) OVER wf AS richest,
            LAST_VALUE(c_custkey) OVER wf AS poorest,
            NTH_VALUE(c_custkey, 2) OVER wf AS runner_up,
            CUME_DIST() OVER w AS cd
          FROM $cust
          WINDOW w AS (PARTITION BY c_nationkey
              ORDER BY c_acctbal DESC, c_custkey ASC),
            wf AS (PARTITION BY c_nationkey
              ORDER BY c_acctbal DESC, c_custkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          ORDER BY c_nationkey, c_custkey""",
    "q_win_frame" ->
      s"""SELECT o_custkey, o_orderkey, o_orderdate,
            CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER cum, 4) AS DOUBLE) AS running_rev,
            CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER mov, 4) AS DOUBLE)
              / COUNT(*) OVER mov AS mov3_avg
          FROM $ords
          WINDOW cum AS (PARTITION BY o_custkey
              ORDER BY o_orderdate ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            mov AS (PARTITION BY o_custkey
              ORDER BY o_orderdate ASC, o_orderkey ASC
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
          ORDER BY o_orderkey""",
    // n_band is BIGINT on both sides (Spark count → long; DuckDB COUNT →
    // BIGINT). Peer rows (totalprice ties) share a frame by RANGE
    // semantics in both engines.
    "q_win_rangeframe" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice,
            COUNT(*) OVER band AS n_band,
            CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER band, 4) AS DOUBLE) AS band_rev
          FROM $ords
          WINDOW band AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC
              RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
          ORDER BY o_orderkey""",
    // Identical INTERVAL frame text both engines; n_1h is BIGINT on
    // both sides; the decimal sum is order-free.
    "q_win_timerange" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS us,
            COUNT(*) OVER band AS n_1h,
            CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER band, 4) AS DOUBLE) AS val_1h
          FROM $evt WHERE ts IS NOT NULL
          WINDOW band AS (PARTITION BY user_id ORDER BY ts ASC
              RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
          ORDER BY event_id"""
  )
}
