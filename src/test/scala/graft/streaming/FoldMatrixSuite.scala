package graft.streaming

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files
import scala.util.Random

/** The restart/split matrix: every [[KeyedFold]] runs through BOTH
  * adapters ([[KeyedFold.fmgws]] on the default state store,
  * [[KeyedFold.tws]] on RocksDB) over the sf0.001 events, fed as a
  * seeded random split into 3–4 MemoryStream micro-batches with a stop
  * and a restart from the same checkpoint at a seeded batch boundary.
  * Ordered folds get their input in the fold's declared order (the
  * per-key in-order delivery contract) and each batch shuffled inside
  * (the fold's replay sort must restore it); commutative folds get the
  * whole input shuffled before the split. Every run's final standings
  * (last write per output key in Update mode, the emitted multiset in
  * Append mode) must equal the builder run in batch mode.
  *
  * The same runs record state size from
  * `StreamingQueryProgress.stateOperators`: one `[fold-state]` line per
  * fold and adapter with rows and bytes, and — no run here sets a TTL —
  * an assertion that the store holds at most one row per distinct key
  * fed. */
class FoldMatrixSuite extends SparkSuite {
  import spark.implicits._

  private val U = OutputMode.Update
  private val A = OutputMode.Append

  /** One matrix row: a fold, the output mode each builder runs it in,
    * the batch-mode reference, and the Update-mode standings key (None
    * = compare the emitted multiset). */
  private final class Case[K, E, S, O](val name: String,
                                       val fold: KeyedFold[K, E, S, O])(
      val fmMode: OutputMode, val twsMode: OutputMode,
      val batch: Dataset[E] => Dataset[O], val standingsKey: Option[O => Any],
      val input: Seq[E])(implicit val ke: Encoder[K], val ee: Encoder[E],
                         val se: Encoder[S], val oe: Encoder[O])

  private lazy val events: Seq[Event] = Tables.events(spark, sf)
    .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    .as[Event].collect().toSeq

  private lazy val driftRows: Seq[DriftRowIn] = events.map(e =>
    DriftRowIn(e.event_type, math.round(e.value), e.event_id % 2 == 0))

  private lazy val cases: Seq[Case[_, _, _, _]] = {
    import StreamOps._
    import graft.queries.EventOps.{BuyWinUs, ClickWinUs}
    val probes = Seq(1L, 2L, 3L, 7L)
    Seq(
      new Case("gap", gapFold)(U, U, gapAudit, Some(_.user_id), events),
      new Case("gapsweep", gapsweepFold)(U, U, gapsweepMonitor, Some(_.user_id), events),
      new Case("ewma", ewmaFold)(U, U, ewmaSmooth, None, events),
      new Case("streak", streakFold)(U, U, streakMonitor, Some(_.user_id), events),
      new Case("quantile", quantileFold(64))(U, U, quantileMonitor(_),
        Some(_.user_id), events),
      new Case("kmv", kmvFold(256))(U, U, kmvMonitor(_), Some(_.event_type), events),
      new Case("cms", cmsFold(probes, 4, 64))(U, U, cmsMonitor(_, probes),
        Some(o => (o.event_type, o.probe_user)), events),
      new Case("ams", amsFold(8))(U, U, amsMonitor(_), Some(_.event_type), events),
      new Case("scd2", scd2Fold)(U, U, scd2Monitor,
        Some(o => (o.user_id, o.eff_from_us, o.eff_from_id)), events),
      new Case("newret", newretFold)(A, A, newretMonitor, None, events),
      new Case("timeGap", timeGapFold)(A, A, timeGapMonitor, None, events),
      new Case("lifetime", lifetimeFold)(U, U, lifetimeMonitor, Some(_.user_id), events),
      new Case("dailyCount", dailyCountFold)(U, U, dailyCountMonitor,
        Some(o => (o.event_type, o.day_us)), events),
      new Case("pit", pitFold)(A, A, pitMonitor, None, events),
      new Case("attrib", attribFold(None))(A, A, attribMonitor, None, events),
      new Case("moments", momentsFold)(U, U, momentsMonitor, Some(_.user_id), events),
      new Case("bitmask", bitmaskFold)(U, U, bitmaskMonitor, Some(_.user_id), events),
      new Case("retention", retentionFold)(U, U, retention, Some(_.user_id), events),
      new Case("paths", pathsFold)(U, A, paths, None, events),
      new Case("paths2", paths2Fold)(U, U, paths2, None, events),
      new Case("funnel", funnelFold(Long.MaxValue, Long.MaxValue))(U, U, funnel,
        Some(_.user_id), events),
      new Case("funnelWindowed", funnelFold(ClickWinUs, BuyWinUs))(U, U,
        funnelWindowed, Some(_.user_id), events),
      new Case("asof", asofFold)(A, A, asofEnrich, None, events),
      new Case("windowTopk", windowTopkFold(3))(U, U, windowTopkMonitor(_),
        Some(o => (o.window_us, o.rk)), events),
      new Case("ksDrift", ksDriftFold)(U, U, ksDriftMonitor, Some(_.grp), driftRows),
      new Case("causal", causalFold)(U, U, causalTracker, Some(_.user_id), events),
      new Case("runningAgg", runningFold)(A, A, runningAgg, None, events),
      new Case("ttlCount", ttlCountFold)(U, U,
        KeyedFold.fmgws(_, ttlCountFold, U), Some(_.user_id), events))
  }

  private def session(rocks: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    if (rocks) s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }
  private lazy val hdfsSession = session(rocks = false)
  private lazy val rocksSession = session(rocks = true)

  /** Final standings: last write per standings key, or the multiset. */
  private def standings[O](c: Case[_, _, _, O], rows: Seq[O]): Map[Any, Any] =
    c.standingsKey match {
      case Some(k) => rows.map(o => k(o) -> o).toMap
      case None => rows.groupBy(identity).map { case (o, os) => o -> os.size }
    }

  /** One streaming run through one adapter; returns the emitted rows in
    * batch order and the (rows, bytes) of the last data batch's state. */
  private def run[K, E, S, O](c: Case[K, E, S, O], tws: Boolean,
                              batches: Seq[Seq[E]], restartAt: Int)
      : (Seq[O], Long, Long) = {
    import c.{ke, ee, se, oe}
    val s = if (tws) rocksSession else hdfsSession
    val ms = MemoryStream[E](s)
    val cp = Files.createTempDirectory(s"graft_fold_${c.name}").toString
    val out = collection.mutable.TreeMap.empty[Long, Seq[O]]
    def start() = {
      val mode = if (tws) c.twsMode else c.fmMode
      val ds = if (tws) KeyedFold.tws(ms.toDS(), c.fold, mode)
        else KeyedFold.fmgws(ms.toDS(), c.fold, mode)
      ds.writeStream
        .foreachBatch { (d: Dataset[O], id: Long) =>
          val rows = d.collect().toSeq
          out.synchronized(out(id) = rows)
          ()
        }
        .option("checkpointLocation", cp).outputMode(mode).start()
    }
    var q = start()
    try batches.zipWithIndex.foreach { case (b, i) =>
      if (i == restartAt) { q.stop(); q = start() }
      ms.addData(b)
      q.processAllAvailable()
    } finally q.stop()
    val ops = q.recentProgress.filter(_.numInputRows > 0).last.stateOperators
    (out.synchronized(out.values.flatten.toSeq),
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
  }

  private def check[K, E, S, O](c: Case[K, E, S, O]): Unit = {
    import c.{ee, oe}
    val rng = new Random(20261017L ^ c.name.hashCode)
    val ordered = c.fold.order.fold(rng.shuffle(c.input))(o => c.input.sorted(o))
    val nBatches = 3 + rng.nextInt(2)
    val cuts = rng.shuffle((1 until ordered.size).toVector)
      .take(nBatches - 1).sorted
    val batches = (0 +: cuts).zip(cuts :+ ordered.size)
      .map { case (a, b) => rng.shuffle(ordered.slice(a, b)) }
    val restartAt = 1 + rng.nextInt(nBatches - 1)
    val expected = standings(c, c.batch(spark.createDataset(c.input)).collect().toSeq)
    val keys = c.input.map(c.fold.key).distinct.size
    for (tws <- Seq(false, true)) {
      val api = if (tws) "tws" else "fmgws"
      val (rows, stateRows, stateBytes) = run(c, tws, batches, restartAt)
      println(f"[fold-state] ${c.name}%-14s $api%-5s rows=$stateRows%5d " +
        f"bytes=$stateBytes%9d keys=$keys%5d")
      assert(standings(c, rows) === expected,
        s"${c.name} via $api: batches ${batches.map(_.size)}, " +
          s"restart before batch $restartAt")
      assert(stateRows <= keys,
        s"${c.name} via $api holds $stateRows state rows for $keys keys")
    }
  }

  test("fold matrix: every fold via fMGWS and TWS, seeded split + restart == batch") {
    val failures = cases.flatMap(c =>
      scala.util.Try(check(c)).failed.toOption.map(e => s"${c.name}: ${e.getMessage.take(400)}"))
    assert(cases.size === 28 && failures.isEmpty, failures.mkString("\n"))
  }
}
