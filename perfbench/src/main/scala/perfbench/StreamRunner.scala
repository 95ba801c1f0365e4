package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_micros}

import graft.streaming.{CausalOut, Event, StreamOps}

/** Replays the events table as an endless stream.
  *
  * Cycle `c` shifts every `event_id` and `ts` by `c` times the table's
  * span, so each key's causal structure repeats. The seed relabels the
  * user ids and shuffles the row order inside each delivered chunk. */
final class EventSource(base: Array[Event], seed: Long) {
  private val idSpan = base.last.event_id - base.head.event_id + 1
  private val tsSpan = base.map(_.ts_us).max - base.map(_.ts_us).min + 1
  private val relabel: Map[Long, Long] = {
    val users = base.map(_.user_id).distinct.sorted
    users.zip(new scala.util.Random(seed).shuffle(users.toSeq)).toMap
  }
  private val rng = new scala.util.Random(seed + 1)
  private var next = 0L
  val delivered = mutable.ArrayBuffer.empty[Event]

  def take(n: Int): Seq[Event] = {
    val chunk = (0 until n).map { k =>
      val i = next + k
      val c = i / base.length
      val e = base((i % base.length).toInt)
      Event(e.event_id + c * idSpan, e.ts_us + c * tsSpan, relabel(e.user_id),
        e.event_type, e.value)
    }
    next += n
    delivered ++= chunk
    rng.shuffle(chunk)
  }
}

/** One causal maintainer under one state API, fed by a `MemoryStream` and
  * drained by a `foreachBatch` sink that keeps the latest standings.
  *
  * The stream spreads each micro-batch's rows over one input partition per
  * core. Without that it makes one partition per hand-over, so a batch's
  * task count, and with it its duration, would grow with the time the
  * previous batch took: under an open loop that feedback amplifies every
  * stall of the host. */
final class Maintainer(val name: String, session: SparkSession, cpDir: String,
                       build: Dataset[Event] => Dataset[CausalOut], val source: EventSource) {
  import session.implicits._
  private val input = MemoryStream[Event](session, session.sparkContext.defaultParallelism)
  val standings = mutable.HashMap.empty[Long, (Long, Long)]
  /** (receive time, events in the batch) per delivered micro-batch. */
  val batches = mutable.ArrayBuffer.empty[(Double, Long)]
  private var deliveredEvents = 0L

  private val query = build(input.toDS()).writeStream
    .queryName(name)
    .foreachBatch { (ds: Dataset[CausalOut], _: Long) =>
      val rows = ds.collect()
      val now = Clock.nowMs
      Maintainer.this.synchronized {
        // Each output row is a key's running standings, so the growth of
        // n_events over the previous standings counts the batch's events.
        var n = 0L
        rows.foreach { o =>
          n += o.n_events - standings.get(o.user_id).map(_._1).getOrElse(0L)
          standings(o.user_id) = (o.n_events, o.n_violations)
        }
        deliveredEvents += n
        batches += ((now, n))
        Maintainer.this.notifyAll()
      }
      ()
    }
    .option("checkpointLocation", cpDir)
    .outputMode("update")
    .start()

  def delivered: Long = synchronized(deliveredEvents)

  def add(events: Seq[Event]): Unit = input.addData(events)

  def awaitDelivered(target: Long, timeoutMs: Long = 120000L): Unit = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (deliveredEvents < target) {
      query.exception.foreach(e => throw e)
      val left = deadline - System.currentTimeMillis()
      if (left <= 0) throw new IllegalStateException(
        s"$name delivered $deliveredEvents of $target events")
      wait(math.min(left, 200L))
    }
  }

  def stop(): Unit = query.stop()

  /** The independent check: a plain fold over every delivered event in
    * `event_id` order, per user: (events, events older than an earlier
    * event of the same user). Compared with the final standings. */
  def check(): (Boolean, Long) = {
    val expected = mutable.HashMap.empty[Long, (Long, Long, Long)]
    source.delivered.sortBy(_.event_id).foreach { e =>
      val (n, viol, maxTs) = expected.getOrElse(e.user_id, (0L, 0L, Long.MinValue))
      expected(e.user_id) = (n + 1, viol + (if (n > 0 && e.ts_us < maxTs) 1 else 0),
        math.max(maxTs, e.ts_us))
    }
    val want = expected.map { case (u, (n, v, _)) => u -> ((n, v)) }.toMap
    val got = synchronized(standings.toMap)
    (want == got, want.values.map(_._2).sum)
  }
}

object StreamRunner {
  /** Closed-loop warm-up per maintainer before the timed phases. */
  val WarmSeconds = 5.0
}

/** The causal-stream workload: `StreamOps.causalTracker`
  * (flatMapGroupsWithState, default state store) and `StreamOps.causalTws`
  * (transformWithState, RocksDB), each driven through a closed-loop phase
  * and an open-loop phase. */
final class StreamRunner(spark: SparkSession, dir: String, tmpDir: String, seed: Long) {
  import spark.implicits._

  val ClosedBatch = 10000
  val OpenRate = 5000.0
  val TickMs = 25.0

  private val base: Array[Event] = graft.Tables.events(spark, dir)
    .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
      col("event_type"), col("value"))
    .as[Event].collect().sortBy(_.event_id)

  val rocks: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  val maintainers: Seq[Maintainer] = Seq(
    new Maintainer("fmgws", spark, s"$tmpDir/cp-fmgws", StreamOps.causalTracker,
      new EventSource(base, seed)),
    new Maintainer("tws", rocks, s"$tmpDir/cp-tws", StreamOps.causalTws,
      new EventSource(base, seed)))

  /** Hands over `ClosedBatch` events and waits for the batch holding them,
    * until `seconds` have passed. Returns (hand-over ms, receive ms, events). */
  def closedLoop(m: Maintainer, seconds: Double, minBatches: Int = 1): Seq[(Double, Double, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double, Long)]
    val end = Clock.nowMs + seconds * 1000
    while (out.size < minBatches || Clock.nowMs < end) {
      val chunk = m.source.take(ClosedBatch)
      val target = m.delivered + chunk.size
      val t0 = Clock.nowMs
      m.add(chunk)
      m.awaitDelivered(target)
      out += ((t0, Clock.nowMs, chunk.size.toLong))
    }
    out.toSeq
  }

  /** Adds events on a fixed schedule of `OpenRate` per second for `seconds`,
    * handing over what is due every `TickMs`:
    * event `i` of the phase is due at `t0 + i / OpenRate`, whether or not
    * the engine keeps up. Returns the schedule start, the generator's
    * chunks (add time, first index, events) and the delivered batches
    * (receive time, events), both in the phase's own event numbering. */
  def openLoop(m: Maintainer, seconds: Double): Map[String, Any] = {
    val before = m.synchronized(m.batches.size)
    val deliveredBefore = m.delivered
    val chunks = mutable.ArrayBuffer.empty[(Double, Long, Long)]
    val t0 = Clock.nowMs
    var added = 0L
    var now = t0
    while (now - t0 < seconds * 1000) {
      val due = ((now - t0) * OpenRate / 1000).toLong
      if (due > added) {
        val n = (due - added).toInt
        m.add(m.source.take(n))
        chunks += ((Clock.nowMs, added, n.toLong))
        added = due
      }
      // Hand over every TickMs.
      val next = t0 + (math.floor((Clock.nowMs - t0) / TickMs) + 1) * TickMs
      Thread.sleep(math.max(0L, (next - Clock.nowMs).toLong))
      now = Clock.nowMs
    }
    m.awaitDelivered(deliveredBefore + added)
    val batches = m.synchronized(m.batches.drop(before).toSeq)
    Map("rate" -> OpenRate, "t0" -> t0,
      "chunks" -> chunks.map { case (t, i, n) => Seq(t, i.toDouble, n.toDouble) },
      "batches" -> batches.map { case (t, n) => Seq(t, n.toDouble) })
  }

  def stop(): Unit = maintainers.foreach(_.stop())
}
