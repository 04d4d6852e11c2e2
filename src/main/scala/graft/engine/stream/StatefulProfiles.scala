package graft.engine.stream

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Arbitrary keyed state via the Spark 4 `transformWithState` API — the
  * successor to `(flat)mapGroupsWithState` (SPARK-45939): typed state
  * variables (`ValueState`/`ListState`/`MapState`) living in the RocksDB
  * state store, composable per key, with TTL and timers.
  *
  * The reference's consumer keeps no cross-batch state (its producer
  * guarantees exactly-once, in-order batches — reference README.md:24),
  * so like [[WindowedAggs]] this is the Silver-layer extension surface: a
  * per-user running profile a feature store would maintain over an event
  * stream.
  *
  * Scale notes: state is partitioned by the grouping key and lives in
  * RocksDB (off-heap, spillable), so per-key profiles scale to the key
  * cardinality × state size the disks hold, not the executor heap. Each
  * micro-batch shuffles once on the key; updates are point lookups.
  * `transformWithState` requires the RocksDB state store provider — the
  * caller sets `spark.sql.streaming.stateStore.providerClass` before
  * starting the query (see `Ingest.withRocksDbState`, which the RocksDB
  * roundtrips wrap around their `Ingest.memoryRoundtrip` call).
  */
object StatefulProfiles {

  final case class UserValue(user_id: Long, value: Long)

  /** One row per user per micro-batch the user appears in: how many
    * batches/events seen so far, the running sum, and the running max.
    */
  final case class UserProfile(
      user_id: Long,
      n_batches: Long,
      n_events: Long,
      sum_value: Long,
      max_value: Long)

  /** Running per-user profile: two scalar accumulators (`ValueState`) and
    * a per-batch event-count journal (`ListState`) whose length is the
    * number of batches this key appeared in. Emits the post-update profile
    * for every key touched by the micro-batch (update semantics).
    */
  final class RunningProfileProcessor
      extends StatefulProcessor[Long, UserValue, UserProfile] {

    @transient private var nEvents: ValueState[Long] = _
    @transient private var sumValue: ValueState[Long] = _
    @transient private var maxValue: ValueState[Long] = _
    @transient private var batchCounts: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val h = getHandle
      nEvents = h.getValueState[Long]("n_events", Encoders.scalaLong, TTLConfig.NONE)
      sumValue = h.getValueState[Long]("sum_value", Encoders.scalaLong, TTLConfig.NONE)
      maxValue = h.getValueState[Long]("max_value", Encoders.scalaLong, TTLConfig.NONE)
      batchCounts = h.getListState[Long]("batch_counts", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[UserValue],
        timerValues: TimerValues): Iterator[UserProfile] = {
      var c = 0L
      var s = 0L
      var m = Long.MinValue
      rows.foreach { r =>
        c += 1
        s += r.value
        if (r.value > m) m = r.value
      }
      val n = (if (nEvents.exists()) nEvents.get() else 0L) + c
      val sv = (if (sumValue.exists()) sumValue.get() else 0L) + s
      val mv = math.max(if (maxValue.exists()) maxValue.get() else Long.MinValue, m)
      nEvents.update(n)
      sumValue.update(sv)
      maxValue.update(mv)
      batchCounts.appendValue(c)
      Iterator(UserProfile(key, batchCounts.get().size.toLong, n, sv, mv))
    }
  }

  /** Declarative entry: group by user, maintain the running profile. */
  def runningProfiles(events: Dataset[UserValue]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RunningProfileProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class TypedEvent(user_id: Long, event_type: String)
  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user per-event-type running counts in a `MapState` — the keyed
    * sub-map state shape (user -> {type -> count}) that a ValueState
    * would have to serialize wholesale on every update; MapState updates
    * touch only the changed entry. After each micro-batch that touches a
    * user, the user's FULL map is re-emitted (update semantics), sorted
    * by type key so the emission order is deterministic.
    */
  final class TypeCountsProcessor
      extends StatefulProcessor[Long, TypedEvent, TypeCount] {

    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long](
        "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[TypeCount] = {
      rows.foreach { r =>
        val cur = if (counts.containsKey(r.event_type)) counts.getValue(r.event_type) else 0L
        counts.updateValue(r.event_type, cur + 1L)
      }
      counts.iterator().toSeq.sortBy(_._1)
        .iterator.map { case (t, n) => TypeCount(key, t, n) }
    }
  }

  /** Running per-(user, event_type) counts via MapState. */
  def typeCounts(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new TypeCountsProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class Item(item: String)
  final case class HeavyHitter(batch_n: Long, item: String, est: Long)

  /** Misra–Gries heavy-hitters summary (k counters) as keyed streaming
    * state, in its MERGEABLE form (Agarwal et al. 2012, "Mergeable
    * Summaries"): each micro-batch's EXACT item counts — order-free, so
    * the result is deterministic regardless of row order inside the
    * batch — merge into the counter map, then while more than k counters
    * remain, the (k+1)-th largest count is subtracted from every counter
    * and non-positive counters drop (the classic MG decrement applied at
    * batch granularity). Estimates never exceed true counts and
    * undercount by at most the decremented mass (<= N/(k+1) in total).
    *
    * Keyed by a constant here (ONE global sketch); at scale the stream
    * keys by shard and shard summaries merge pairwise by the same
    * add-then-decrement step — that mergeability is why MG beats
    * count-min for distributed top-k. After each batch the full
    * surviving counter set is emitted sorted by item.
    */
  final class HeavyHittersProcessor(k: Int)
      extends StatefulProcessor[String, Item, HeavyHitter] {

    @transient private var counters: org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var batchNo: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counters = getHandle.getMapState[String, Long](
        "mg_counters", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      batchNo = getHandle.getValueState[Long](
        "mg_batch", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[Item],
        timerValues: TimerValues): Iterator[HeavyHitter] = {
      val merged = scala.collection.mutable.Map[String, Long]()
      counters.iterator().foreach { case (it, c) => merged(it) = c }
      rows.foreach(r => merged(r.item) = merged.getOrElse(r.item, 0L) + 1L)
      var entries = merged.toSeq
      while (entries.size > k) {
        val dec = entries.map(_._2).sorted(Ordering[Long].reverse)(k)
        entries = entries.map { case (i, c) => (i, c - dec) }.filter(_._2 > 0L)
      }
      counters.iterator().map(_._1).toSeq.foreach(counters.removeKey)
      entries.foreach { case (i, c) => counters.updateValue(i, c) }
      val b = (if (batchNo.exists()) batchNo.get() else 0L) + 1L
      batchNo.update(b)
      entries.sortBy(_._1).iterator.map { case (i, c) => HeavyHitter(b, i, c) }
    }
  }

  /** Declarative entry: one global MG sketch over the item stream. */
  def heavyHitters(items: Dataset[Item], k: Int): Dataset[HeavyHitter] = {
    import items.sparkSession.implicits._
    items
      .groupByKey(_ => "all")
      .transformWithState(
        new HeavyHittersProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  final case class BandDoc(band: Long, key: Long, doc_id: Long)
  final case class BandHit(doc_id: Long, band: Long, owner: Long)

  /** First-owner registry per MinHash/LSH band key — the streaming
    * primitive of corpus dedup over an UNBOUNDED document stream: the
    * batch LSH pipeline buckets all documents at once, but a live
    * ingestion pipeline must answer "has any band of this document been
    * seen before?" incrementally. State is one Long (the first doc_id to
    * exhibit the band key) per live band key; each input row re-emits its
    * document with the band's owner, so a downstream per-document
    * aggregation can flag duplicates (any owner < doc_id). In-batch
    * collisions resolve deterministically (min doc_id in the batch owns
    * the key).
    *
    * Scale notes: band keys shuffle once per micro-batch (the groupByKey)
    * and state is a point lookup per key in RocksDB — cardinality is
    * bounded by live band keys (Bands x corpus), the same state a batch
    * LSH bucket join would materialize, amortized over the stream. At
    * 100 TB the keys would carry a TTL (TTLConfig) tied to the dedup
    * horizon; the test corpus keeps state unbounded.
    */
  final class BandOwnerProcessor
      extends StatefulProcessor[(Long, Long), BandDoc, BandHit] {

    @transient private var owner: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      owner = getHandle.getValueState[Long]("owner", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: (Long, Long),
        rows: Iterator[BandDoc],
        timerValues: TimerValues): Iterator[BandHit] = {
      val docs = rows.map(_.doc_id).toSeq.distinct.sorted
      val own = math.min(if (owner.exists()) owner.get() else Long.MaxValue, docs.head)
      owner.update(own)
      docs.iterator.map(d => BandHit(d, key._1, own))
    }
  }

  /** Declarative entry: group band rows by (band, key), emit owners. */
  def bandOwners(bands: Dataset[BandDoc]): Dataset[BandHit] = {
    import bands.sparkSession.implicits._
    bands
      .groupByKey(r => (r.band, r.key))
      .transformWithState(
        new BandOwnerProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class TimedEvent(user_id: Long, event_time_ms: Long)

  /** Emitted when a user's idle timer fires: the session is closed with
    * the count of events it accumulated.
    */
  final case class ClosedSession(user_id: Long, n_events: Long, closed_at_ms: Long)

  /** Event-time TIMERS through transformWithState: each input row extends
    * the user's idle deadline by `gapMs` past its event time (re-arming —
    * the previous timer is deleted); when the WATERMARK passes the
    * deadline, `handleExpiredTimer` fires, emits the closed session, and
    * clears the state. This is the timer-driven flush pattern
    * (mapGroupsWithState's GroupStateTimeout generalized to explicit,
    * multiple, per-key timers) — the API surface the session-window
    * operator builds on, exposed for custom expiry logic.
    */
  final class IdleSessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, ClosedSession] {

    @transient private var count: ValueState[Long] = _
    @transient private var deadline: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
      deadline = getHandle.getValueState[Long]("deadline", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      var c = if (count.exists()) count.get() else 0L
      var maxT = Long.MinValue
      rows.foreach { r =>
        c += 1
        if (r.event_time_ms > maxT) maxT = r.event_time_ms
      }
      count.update(c)
      val newDeadline = maxT + gapMs
      if (deadline.exists()) getHandle.deleteTimer(deadline.get())
      getHandle.registerTimer(newDeadline)
      deadline.update(newDeadline)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSession] = {
      val c = if (count.exists()) count.get() else 0L
      count.clear()
      deadline.clear()
      Iterator(ClosedSession(key, c, expiredTimerInfo.getExpiryTimeInMs()))
    }
  }

  /** Timer-closed idle sessions over a watermarked event-time stream. */
  def idleSessions(events: Dataset[TimedEvent], gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    events
      .withColumn("event_ts", timestamp_millis(col("event_time_ms")))
      .withWatermark("event_ts", "0 seconds")
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        new IdleSessionProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }
}
