package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming operator library — SURVEY.md §2b Q19–Q22, the
  * streaming twins of graft.operators.EventOps.
  *
  * Each takes an unbounded `events`-shaped DataFrame (event_id, ts,
  * user_id, event_type, value, props) — from MemoryStream in tests, the
  * shardsim source in ConsumeApp, or any other streaming source — and
  * returns a streaming DataFrame. Batch/stream equivalence is asserted in
  * StreamingSpec.
  *
  * Watermarks bound state: every windowed aggregation here holds per-key
  * state only until `watermark` passes the window end, so state size is
  * O(active windows), independent of stream length — the property that
  * lets these run forever on a 1000-executor cluster.
  */
object StreamQueries {

  /** q19 streaming — tumbling 5-minute counts per event_type, 10-minute
    * watermark (late events beyond it are dropped). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("wstart"),
        col("event_type"), col("n"), col("sum_value"))

  /** q20a streaming — sliding 10/5-minute windows per event_type. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("wstart"),
        col("event_type"), col("n"))

  /** q20b streaming — session windows (30-minute gap) per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"),
        col("n"), col("sum_value"))

  /** q21 streaming — stateful dedup on event_id within the watermark:
    * duplicates arriving while the first copy's state is live are dropped;
    * state expires once the watermark passes (bounded memory). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Per-user progress state — the consumer-progress analog of the
    * reference's per-worker counters (`workerItems`/`workerLastProcessed`,
    * reference src/Kinesis/Types.hs:122-128): running event count + value
    * total, updated per micro-batch, emitted on every trigger. */
  case class UserEvent(user_id: Long, value: Double)
  case class UserProgress(user_id: Long, n_events: Long, total: Double)

  /** q22 streaming — arbitrary stateful processing via mapGroupsWithState.
    * State is one (count, sum) pair per user: fixed size per key. */
  def userTotals(events: DataFrame): Dataset[UserProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserProgress, UserProgress](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserProgress]) =>
          var st = state.getOption.getOrElse(UserProgress(uid, 0L, 0.0))
          rows.foreach(e => st = UserProgress(uid, st.n_events + 1, st.total + e.value))
          state.update(st)
          st
      }
  }

  /** q22 streaming, `transformWithState` form — the Spark 4 successor to
    * mapGroupsWithState: named state variables behind a typed handle,
    * RocksDB-backed (`spark.sql.streaming.stateStore.providerClass` must be
    * RocksDBStateStoreProvider), TTL-capable. Same per-user (count, sum)
    * progress state as [[userTotals]]; at scale TTL + RocksDB turn
    * unbounded keyspaces from an OOM into an eviction policy. */
  class UserTotalsProcessor
      extends StatefulProcessor[Long, UserEvent, UserProgress] {
    @transient private var state: ValueState[UserProgress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserProgress](
        "totals", Encoders.product[UserProgress], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserProgress] = {
      var st = if (state.exists()) state.get() else UserProgress(key, 0L, 0.0)
      rows.foreach(e => st = UserProgress(key, st.n_events + 1, st.total + e.value))
      state.update(st)
      Iterator.single(st)
    }
  }

  def userTotalsTws(events: DataFrame): Dataset[UserProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** q22 streaming, flatMapGroupsWithState form — the 0-or-more-rows
    * cousin of [[userTotals]]: emits a user's progress row only when this
    * trigger actually changed it (an empty iterator otherwise), the shape
    * for change-data feeds where most keys are idle per batch. */
  def userTotalsDeltas(events: DataFrame): Dataset[UserProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserProgress, UserProgress](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserProgress]) =>
          var st = state.getOption.getOrElse(UserProgress(uid, 0L, 0.0))
          var changed = false
          rows.foreach { e =>
            st = UserProgress(uid, st.n_events + 1, st.total + e.value)
            changed = true
          }
          if (changed) { state.update(st); Iterator.single(st) }
          else Iterator.empty
      }
  }

  /** One buffered journey event. `ts` stays a Timestamp up to the typed
    * boundary — the watermark's event-time metadata lives on the `ts`
    * attribute, and projecting it away (e.g. to `unix_micros(ts)`) before
    * the stateful operator would disable Spark's late-row filter, letting
    * already-finalized event times be re-opened. `ts_us` is derived once
    * per row here, not in the plan. */
  case class JEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String) {
    def tsUs: Long =
      ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L
  }
  /** Per-user funnel stage timestamps; None until the stage is reached. */
  case class FunnelRow(user_id: Long, tv: Option[Long], tc: Option[Long],
      tp: Option[Long])

  /** Streaming funnel (view → click → purchase) — the CEP-shaped twin of
    * [[graft.operators.JourneyOps.funnelStages]], which Spark has no
    * built-in for (no MATCH_RECOGNIZE): stage transitions depend on
    * event-TIME order, but a stream delivers in ARRIVAL order, so events
    * are buffered in a per-user `ListState` until the watermark proves no
    * earlier event can still arrive, then folded through the stage machine
    * in event-time order. Event-time timers finalize users that stop
    * receiving events — the watermark alone only drains keys that appear
    * in a batch.
    *
    * State is bounded: the buffer holds only events newer than the
    * watermark (≤ watermark delay × per-user rate), the stage state is
    * three longs, and Spark drops rows older than the watermark before
    * they reach the processor. Emission is Update-mode: a user's row is
    * re-emitted whenever finalized events changed (or first materialized)
    * its stages; the latest row per user is the funnel state.
    */
  class FunnelProcessor
      extends StatefulProcessor[Long, JEvent, FunnelRow] {
    @transient private var buffer: ListState[JEvent] = _
    @transient private var stages: ValueState[FunnelRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buffer = getHandle.getListState[JEvent](
        "buffer", Encoders.product[JEvent], TTLConfig.NONE)
      stages = getHandle.getValueState[FunnelRow](
        "stages", Encoders.product[FunnelRow], TTLConfig.NONE)
    }

    /** Fold `ripe` (event-time-ordered, all ≤ watermark) through the stage
      * machine: first view, first click strictly after it, first purchase
      * strictly after that. Running minima are exact because the watermark
      * guarantees no earlier event arrives later. */
    private def advance(key: Long, ripe: Seq[JEvent]): Option[FunnelRow] = {
      var st = if (stages.exists()) stages.get() else FunnelRow(key, None, None, None)
      val before = st
      ripe.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
        e.event_type match {
          case "view" if st.tv.isEmpty => st = st.copy(tv = Some(e.tsUs))
          case "click" if st.tc.isEmpty && st.tv.exists(e.tsUs > _) =>
            st = st.copy(tc = Some(e.tsUs))
          case "purchase" if st.tp.isEmpty && st.tc.exists(e.tsUs > _) =>
            st = st.copy(tp = Some(e.tsUs))
          case _ => ()
        }
      }
      if (st != before || (!stages.exists() && ripe.nonEmpty)) {
        stages.update(st); Some(st)
      } else None
    }

    /** Split the buffer at the watermark: finalize the ripe prefix, keep
      * the rest, and arm a timer so the remainder drains even if this
      * user never appears in another batch. */
    private def drain(key: Long, fresh: Seq[JEvent],
        timerValues: TimerValues): Iterator[FunnelRow] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val all = buffer.get().toSeq ++ fresh
      val (ripe, pending) = all.partition(_.tsUs <= wmUs)
      buffer.clear()
      // stale timers clear on BOTH branches: when a drain empties the
      // buffer, a previously registered timer would otherwise stand and
      // fire as a no-op wakeup (wasted state-store traffic per idle user)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (pending.nonEmpty) {
        buffer.appendList(pending.toArray)
        getHandle.registerTimer(pending.map(_.tsUs).max / 1000L + 1L)
      }
      advance(key, ripe).iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[JEvent],
        timerValues: TimerValues): Iterator[FunnelRow] =
      drain(key, rows.toSeq, timerValues)

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelRow] =
      drain(key, Seq.empty, timerValues)
  }

  /** Streaming per-user funnel stages; 10-minute watermark bounds both
    * lateness and buffer size. */
  def funnelStages(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[JEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Running interval-union sweep state: closed islands are folded into
    * (closedIslands, closedUs); the open island is [curStart, curEnd).
    * curStart < 0 marks "no event seen yet". */
  case class CoverageState(nEvents: Long, closedIslands: Long,
      closedUs: Long, curStart: Long, curEnd: Long)
  /** Coverage snapshot for `user_id` as of the emitting trigger —
    * identical columns to the batch q79 row. */
  case class CoverageRow(user_id: Long, n_events: Long, n_islands: Long,
      covered_us: Long)

  /** q79 streaming — continuous per-user uptime: the interval-union
    * sweep of [[graft.operators.JourneyOps.intervalCoverage]] as
    * incremental `transformWithState`. The batch sweep needs events in
    * event-TIME order, so (the [[FunnelProcessor]] buffering discipline)
    * arrivals wait in a per-user `ListState` until the watermark proves
    * no earlier event can still arrive, then fold through the same
    * running-max(end) island machine; an event-time timer drains users
    * that stop appearing. State per user is the buffer (bounded by
    * watermark delay × rate) plus five longs — the closed-island
    * accumulators and the one open island; emission is Update-mode, the
    * latest row per user IS the batch answer over everything finalized
    * so far. */
  class IntervalCoverageProcessor(durUs: Long)
      extends StatefulProcessor[Long, JEvent, CoverageRow] {
    @transient private var buffer: ListState[JEvent] = _
    @transient private var st: ValueState[CoverageState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buffer = getHandle.getListState[JEvent](
        "buffer", Encoders.product[JEvent], TTLConfig.NONE)
      st = getHandle.getValueState[CoverageState](
        "coverage", Encoders.product[CoverageState], TTLConfig.NONE)
    }

    private def advance(key: Long, ripe: Seq[JEvent]): Option[CoverageRow] = {
      if (ripe.isEmpty) return None
      var s = if (st.exists()) st.get()
        else CoverageState(0L, 0L, 0L, -1L, -1L)
      ripe.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
        val (start, end) = (e.tsUs, e.tsUs + durUs)
        s = if (s.curStart < 0)
          CoverageState(s.nEvents + 1, 0L, 0L, start, end)
        else if (start > s.curEnd)  // strict gap → close the open island
          CoverageState(s.nEvents + 1, s.closedIslands + 1,
            s.closedUs + (s.curEnd - s.curStart), start, end)
        else                        // overlap or touch → extend
          s.copy(nEvents = s.nEvents + 1,
            curEnd = math.max(s.curEnd, end))
      }
      st.update(s)
      Some(CoverageRow(key, s.nEvents, s.closedIslands + 1,
        s.closedUs + (s.curEnd - s.curStart)))
    }

    private def drain(key: Long, fresh: Seq[JEvent],
        timerValues: TimerValues): Iterator[CoverageRow] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val all = buffer.get().toSeq ++ fresh
      val (ripe, pending) = all.partition(_.tsUs <= wmUs)
      buffer.clear()
      // stale timers clear on BOTH branches: when a drain empties the
      // buffer, a previously registered timer would otherwise stand and
      // fire as a no-op wakeup (wasted state-store traffic per idle user)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (pending.nonEmpty) {
        buffer.appendList(pending.toArray)
        getHandle.registerTimer(pending.map(_.tsUs).max / 1000L + 1L)
      }
      advance(key, ripe).iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[JEvent],
        timerValues: TimerValues): Iterator[CoverageRow] =
      drain(key, rows.toSeq, timerValues)

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[CoverageRow] =
      drain(key, Seq.empty, timerValues)
  }

  /** Streaming per-user interval coverage; 10-minute watermark bounds
    * lateness and buffer size. */
  def intervalCoverage(events: DataFrame,
      horizonMinutes: Int = 5): Dataset[CoverageRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[JEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        new IntervalCoverageProcessor(horizonMinutes * 60L * 1000000L),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** One (lang, term) observation for the streaming sketch. */
  case class LangTerm(lang: String, term: String)
  /** A sketch snapshot wrapped for the state encoder. */
  case class MgState(counters: Map[String, Long])
  /** One reported heavy hitter for `lang` as of the emitting trigger. */
  case class LangTermCount(lang: String, term: String, n: Long)

  /** q31 streaming — per-language heavy hitters with the [[MisraGries]]
    * sketch held as named `transformWithState` state, one counter map per
    * language key. Every trigger folds the batch's terms through the SAME
    * reduce step the batch UDAF uses (graft.functions.MisraGries — one
    * code path, so the twins cannot drift) and re-emits the current
    * top-k; the latest emission per language is the sketch state, and
    * when `capacity` ≥ the live vocabulary it equals the batch q31
    * exactly (asserted in StreamingSpec).
    *
    * State is `capacity` counters per language — fixed size however long
    * the stream runs, the whole point of the sketch: a naive streaming
    * top-k would hold the unbounded distinct-term universe per key.
    *
    * On the two map copies per trigger (state.get → mutable buf →
    * state.update): they are the floor, not a missed optimization. The
    * batch UDAF's in-place discipline matters on the PER-ROW path, and
    * that path here is already in-place (`mg.reduce(buf, term)` mutates
    * one HashMap across the whole batch); the copies happen once per
    * trigger per key and are O(capacity)=64 entries, paid right next to
    * the ValueState encoder's own serialize/deserialize of the same
    * entries — which a product encoder requires to be an immutable
    * materialization. A MapState per term would not help: Misra–Gries
    * touches every counter on each decrement sweep, so per-entry store
    * point-writes replace one O(capacity) value write with up to
    * `capacity` of them. */
  class HeavyHittersProcessor(capacity: Int, k: Int)
      extends StatefulProcessor[String, LangTerm, LangTermCount] {
    private val mg = new graft.functions.MisraGries(capacity, k)
    @transient private var state: ValueState[MgState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MgState](
        "sketch", Encoders.product[MgState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[LangTerm],
        timerValues: TimerValues): Iterator[LangTermCount] = {
      val buf = scala.collection.mutable.HashMap.empty[String, Long]
      if (state.exists()) buf ++= state.get().counters
      rows.foreach(r => mg.reduce(buf, r.term))
      state.update(MgState(buf.toMap))
      mg.finish(buf).iterator.map(tc => LangTermCount(key, tc.term, tc.n))
    }
  }

  /** Streaming twin of `q31_heavy_hitters` over a (lang, term) stream. */
  def heavyHittersStream(terms: Dataset[LangTerm], capacity: Int = 64,
      k: Int = 15): Dataset[LangTermCount] = {
    val spark = terms.sparkSession
    import spark.implicits._
    terms
      .groupByKey(_.lang)
      .transformWithState(new HeavyHittersProcessor(capacity, k),
        TimeMode.None(), OutputMode.Update())
  }

  case class CdcChange(user_id: Long, ts_us: Long, event_id: Long,
      op: String, event_type: String, value: Double)
  case class CdcState(user_id: Long, ts_us: Long, last_event_id: Long,
      op: String, event_type: String, value: Double, live: Boolean)

  /** q36 streaming — changelog materialization as `transformWithState`
    * named state: one latest-change record per key, replaced whenever a
    * newer (ts, event_id) change arrives (out-of-order late changes lose,
    * the same latest-wins rule as the batch window). Every trigger emits
    * the key's current state with a `live` flag — `live=false` is the
    * tombstone a downstream upsert sink turns into a DELETE, so the
    * emission stream IS an idempotent changelog of the materialized view.
    * State per key is one fixed-size record; the batch twin
    * (CdcOps.cdcLatest) replays the same rule over the full log. */
  class CdcProcessor extends StatefulProcessor[Long, CdcChange, CdcState] {
    @transient private var state: ValueState[CdcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CdcState](
        "latest", Encoders.product[CdcState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[CdcChange],
        timerValues: TimerValues): Iterator[CdcState] = {
      var st = if (state.exists()) state.get() else null
      rows.foreach { c =>
        val newer = st == null || c.ts_us > st.ts_us ||
          (c.ts_us == st.ts_us && c.event_id > st.last_event_id)
        if (newer)
          st = CdcState(key, c.ts_us, c.event_id, c.op, c.event_type,
            c.value, live = c.op != "delete")
      }
      state.update(st)
      Iterator.single(st)
    }
  }

  /** Streaming twin of `q36_cdc_apply` over a keyed change stream. */
  def cdcStream(changes: Dataset[CdcChange]): Dataset[CdcState] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .groupByKey(_.user_id)
      .transformWithState(new CdcProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Stream–stream inner join with event-time bounds: each click joined to
    * the same user's purchases within the following 30 minutes. Both sides
    * carry watermarks and the join condition bounds purchase_ts relative to
    * click_ts, so the state store can evict rows once the watermark passes
    * the bound — the requirement for an unbounded-stream join to hold
    * bounded state. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    import graft.operators.JourneyOps
    // projections, interval condition, and output shape are shared with
    // the batch twin (JourneyOps.clickPurchaseAttribution) — only the
    // watermarks are streaming-specific
    JourneyOps.attributionOutput(
      JourneyOps.attributionClicks(events)
        .withWatermark("click_ts", "10 minutes")
        .join(
          JourneyOps.attributionPurchases(events)
            .withWatermark("purchase_ts", "10 minutes"),
          JourneyOps.attributionCond))
  }

  /** One bucketed observation for the streaming drift monitor. */
  case class BucketObs(bucket: Int)
  /** Running per-bucket count as of the emitting trigger. */
  case class BucketCount(bucket: Int, n_cur: Long)

  /** q43 streaming — the running-count half of a PSI drift monitor as
    * `transformWithState` named state: one Long per fixed-width bucket
    * (state is k counters TOTAL however long the stream runs — the fixed
    * buckets are what make drift monitoring streamable at all). Each
    * trigger re-emits the touched buckets' running counts; the monitor
    * joins the latest emission per bucket against a persisted
    * [[graft.operators.ProfileOps.refBucketCounts]] profile and runs the
    * k-row PSI assembly ([[graft.operators.ProfileOps.psiFromCounts]]) —
    * metadata-scale work per trigger, no rescan of anything. Bucketing is
    * the SAME [[graft.operators.ProfileOps.psiBucket]] expression the
    * batch drift queries use, so batch≡stream holds by construction
    * (asserted in StreamingSpec). */
  class PsiCountProcessor
      extends StatefulProcessor[Int, BucketObs, BucketCount] {
    @transient private var state: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Long](
        "n", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[BucketObs],
        timerValues: TimerValues): Iterator[BucketCount] = {
      val n = (if (state.exists()) state.get() else 0L) + rows.size
      state.update(n)
      Iterator.single(BucketCount(key, n))
    }
  }

  /** Streaming running bucket counts of `valueCol` under the q43 PSI
    * bucketing — the current-side input to a streaming drift gate. */
  def psiCountsStream(values: DataFrame, valueCol: String,
      lo: Double, hi: Double, k: Int): Dataset[BucketCount] = {
    val spark = values.sparkSession
    import spark.implicits._
    values.filter(col(valueCol).isNotNull)
      .select(graft.operators.ProfileOps
        .psiBucket(col(valueCol), lo, hi, k).as("bucket"))
      .as[BucketObs]
      .groupByKey(_.bucket)
      .transformWithState(new PsiCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class SegBucketObs(segment: String, bucket: Int)
  case class SegBucketCount(segment: String, bucket: Int, n_cur: Long)

  /** The q103 monitor's keyed running count — [[PsiCountProcessor]]
    * widened to a (segment, bucket) key. State per key is ONE long;
    * segment count × k keys total, however large the stream. */
  class SegPsiCountProcessor
      extends StatefulProcessor[(String, Int), SegBucketObs, SegBucketCount] {
    @transient private var state: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Long](
        "n", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (String, Int),
        rows: Iterator[SegBucketObs],
        timerValues: TimerValues): Iterator[SegBucketCount] = {
      val n = (if (state.exists()) state.get() else 0L) + rows.size
      state.update(n)
      Iterator.single(SegBucketCount(key._1, key._2, n))
    }
  }

  /** Streaming running (segment, bucket) counts — the current-side input
    * to the SEGMENTED drift gate (q103's streaming twin): the latest
    * emission per key, full-joined to a stored
    * [[graft.operators.ProfileOps.segmentedRefCounts]] profile and fed to
    * [[graft.operators.ProfileOps.segmentedPsiFromCounts]], reproduces
    * the batch sweep exactly (StreamingSpec asserts it). Same
    * architecture as PSI/JS/q62: the stream owns exact running counts,
    * the shared batch assembly owns the math. */
  def segmentedPsiCountsStream(values: DataFrame, valueCol: String,
      segCol: String, lo: Double, hi: Double,
      k: Int): Dataset[SegBucketCount] = {
    val spark = values.sparkSession
    import spark.implicits._
    values.filter(col(valueCol).isNotNull && col(segCol).isNotNull)
      .select(col(segCol).as("segment"), graft.operators.ProfileOps
        .psiBucket(col(valueCol), lo, hi, k).as("bucket"))
      .as[SegBucketObs]
      .groupByKey(o => (o.segment, o.bucket))
      .transformWithState(new SegPsiCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** q62 streaming — the daily-count half of the volume-anomaly monitor:
    * a watermarked 1-day tumbling aggregation in APPEND mode, so a
    * (event_type, day, n) row is emitted exactly once, when the
    * watermark proves the day complete. The scoring half is the SAME
    * batch assembly ([[graft.operators.StatsOps.scoreDailyCounts]]) run
    * over the accumulating finalized-count store — |types × days| rows,
    * metadata-scale however large the stream — mirroring the PSI/JS
    * stored-reference architecture: the stream owns exact finalized
    * counts, the shared batch code owns the window math, and
    * batch≡stream holds because neither side re-implements the other.
    * No custom processor: Spark's windowed aggregation + watermark IS
    * the correct finalize-exactly-once machine for this shape. */
  def dailyCountsStream(events: DataFrame,
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("event_type"),
        window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), to_date(col("w.start")).as("day"), col("n"))

  /** Output modes each query supports (documented for sinks/tests). */
  val outputModes: Map[String, OutputMode] = Map(
    "tumbling" -> OutputMode.Append(),
    "sliding" -> OutputMode.Append(),
    "session" -> OutputMode.Append(),
    "dedup" -> OutputMode.Append(),
    "userTotals" -> OutputMode.Update())
}
