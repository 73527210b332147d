package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

/** Structured Streaming surface (SURVEY.md §2.9): the reference's
  * cron-micro-batch semantics mapped onto real streaming operators.
  *
  *  - watermark/offset state → checkpoint + `withWatermark`
  *  - content-hash dedup of redelivered rows → `dropDuplicates`
  *    bounded by the event-time watermark
  *  - per-run delta output → `foreachBatch` writing batchId-keyed dirs
  *  - (beyond the reference) tumbling-window aggregation — the
  *    driver's north star for the streaming surface.
  *
  * All transforms take/return DataFrames so the same plan fragments
  * run in batch tests and streaming (the batch analogs in
  * CoreQueries are oracle-checked; these are exercised via
  * MemoryStream in EventStreamSpec).
  */
/** Input row for the stateful digest stream. */
final case class ContactEvent(contact_id: Long, event_id: Long,
                              event_ts: Timestamp, event_type: String)

/** Keyed state: running count, latest event millis, last-k
  * (tsMillis, event_type) in chronological order. */
final case class DigestState(count: Long, lastTsMillis: Option[Long],
                             lastK: Vector[(Long, String)]) {

  /** This state advanced by one micro-batch's events for the contact,
    * None when there are none. Batch order is not guaranteed: the
    * increment is ordered (ts asc, event_id tiebreak) before it joins
    * the running tail. Only the increment's k greatest events by that
    * order can reach the tail, so the fold holds O(k) events however
    * large the increment is. */
  def fold(events: Iterator[ContactEvent], k: Int): Option[DigestState] = {
    // a min-heap of the k greatest (ts, event_id) seen so far
    val top = mutable.PriorityQueue.empty[ContactEvent](
      Ordering.by((e: ContactEvent) => (e.event_ts.getTime, e.event_id)).reverse)
    var n = 0L
    var maxTs = lastTsMillis.getOrElse(Long.MinValue)
    events.foreach { e =>
      n += 1
      maxTs = math.max(maxTs, e.event_ts.getTime)
      top.enqueue(e)
      if (top.size > k) top.dequeue()
    }
    if (n == 0) None
    else Some(DigestState(count + n, Some(maxTs),
      (lastK ++ top.dequeueAll[ContactEvent].map(e => (e.event_ts.getTime, e.event_type)))
        .sortBy(_._1).takeRight(k)))
  }

  def digest(contactId: Long): Option[ContactDigest] =
    lastTsMillis.map(ts => ContactDigest(contactId, count, new Timestamp(ts),
      lastK.map(_._2).mkString(", ")))
}

object DigestState {
  val empty: DigestState = DigestState(0L, None, Vector.empty)
}

/** Funnel state: the resolved step times plus the bounded per-step
  * candidate retention that makes late arrival safe — min signup time
  * ever seen, and the earliest still-relevant view/purchase
  * timestamps (see [[FunnelProcessor]] for the pruning rules). */
final case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long],
                             viewCands: Vector[Long], purchCands: Vector[Long])

/** Emitted once per user per newly-completed funnel step (re-emitted
  * with the earlier timestamp if a late event improves a step). */
final case class FunnelStep(contact_id: Long, step: Int, step_ts: Timestamp)

/** Streaming CONVERSION FUNNEL: the stateful face of the batch
  * q_funnel_steps operator — signup → view → purchase, each step
  * within `deadlineMs` of the previous step's completion.
  *
  * OUT-OF-ORDER TOLERANT: arrival order (within and across
  * micro-batches) does not change the resolved funnel. The batch
  * definition is order-free — t1 = min signup, t2 = min view in
  * (t1, t1+d], t3 = min purchase in (t2, t2+d] — so the processor
  * keeps exactly the inputs that formula needs and recomputes the
  * chain each batch: the min signup time, plus BOUNDED candidate
  * sets for views/purchases (r6's first-seen-in-arrival-order
  * resolution silently diverged from batch whenever a step-opening
  * event arrived after its dependents).
  *
  * State stays O(1) per user. Candidates are pruned to the funnel
  * horizon — a view can only ever qualify if v ≤ t1+d, and t1 (a
  * min) only decreases, so the bound only tightens; purchases
  * likewise against t2+d — and capped at
  * [[FunnelProcessor.MaxCands]], retaining currently-QUALIFYING
  * candidates (sorted, so the resolved min always survives) ahead of
  * earliest non-qualifying ones (relevant only if a later-arriving
  * EARLIER signup re-opens an earlier window). A stream overflowing
  * the cap with >MaxCands non-qualifying events trades that
  * late-reopen exactness for the state bound — the resolved chain
  * itself never regresses from capping.
  *
  * Residual honesty: completion rows already emitted cannot be
  * RETRACTED in update mode — a late signup that shifts the window
  * enough to undo a previously-satisfied step leaves the old row in
  * the sink. Improvements re-emit the step with its earlier
  * timestamp. Sinks that need exact convergence use
  * [[FunnelChangelogProcessor]], which emits −1/+1 changelog rows
  * for exactly these undo cases (same shared resolution).
  *
  * NOTE (state schema): round 7 widened [[FunnelState]] with the two
  * candidate vectors — funnel checkpoints written by the previous
  * 3-field state do not restore into this processor; restart the
  * funnel query from a fresh checkpoint. */
object FunnelProcessor {
  val MaxCands = 64

  /** Fold one micro-batch of events into the funnel state — the
    * SINGLE definition both the update-mode processor and the
    * changelog processor resolve with, so the two surfaces cannot
    * drift. Resolution is the batch formula (order-free): t1 = min
    * signup, t2 = min view in (t1, t1+d], t3 = min purchase in
    * (t2, t2+d]; candidates are pruned to the horizon then capped
    * QUALIFYING-first (see the class doc for the eviction argument). */
  def advance(st: FunnelState, rows: Iterator[ContactEvent],
              deadlineMs: Long): FunnelState = {
    var minSignup = st.t1
    var views = st.viewCands
    var purchases = st.purchCands
    rows.foreach { e =>
      val t = e.event_ts.getTime
      e.event_type match {
        case "signup" => minSignup = Some(minSignup.fold(t)(math.min(_, t)))
        case "view" => views = views :+ t
        case "purchase" => purchases = purchases :+ t
        case _ => ()
      }
    }
    // resolve the chain exactly as the batch operator does
    val t1 = minSignup
    val t2 = t1.flatMap(s =>
      views.filter(v => v > s && v <= s + deadlineMs).minOption)
    val t3 = t2.flatMap(v =>
      purchases.filter(p => p > v && p <= v + deadlineMs).minOption)
    // Prune to the horizon, then cap with QUALIFYING candidates
    // first: the resolved min (t2/t3) must never be evicted by a
    // backlog of earlier never-qualifying events (64 pre-signup
    // views would otherwise push out the one qualifying view and
    // silently regress the resolved step). Non-qualifying earliest
    // candidates fill the remaining slots — they only matter if a
    // later, earlier signup re-opens an earlier window.
    val cap = MaxCands
    def retain(cands: Vector[Long], bound: Option[Long],
               qualifies: Long => Boolean): Vector[Long] = {
      val inHorizon = bound.fold(cands)(b => cands.filter(_ <= b)).distinct
      val (qual, rest) = inHorizon.partition(qualifies)
      (qual.sorted ++ rest.sorted).take(cap)
    }
    FunnelState(t1, t2, t3,
      retain(views, t1.map(_ + deadlineMs),
        v => t1.exists(s => v > s && v <= s + deadlineMs)),
      retain(purchases, t2.map(_ + deadlineMs),
        p => t2.exists(v => p > v && p <= v + deadlineMs)))
  }
}
final class FunnelProcessor(deadlineMs: Long)
    extends StatefulProcessor[Long, ContactEvent, FunnelStep] {

  @transient private var state: ValueState[FunnelState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[FunnelState](
      "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

  override def handleInputRows(contactId: Long, rows: Iterator[ContactEvent],
                               timers: TimerValues): Iterator[FunnelStep] = {
    val st = if (state.exists()) state.get()
             else FunnelState(None, None, None, Vector.empty, Vector.empty)
    val next = FunnelProcessor.advance(st, rows, deadlineMs)
    state.update(next)
    // emit steps that are newly completed or improved to an earlier ts
    def changed(prev: Option[Long], now: Option[Long]): Boolean =
      now.isDefined && now != prev
    Seq((1, st.t1, next.t1), (2, st.t2, next.t2), (3, st.t3, next.t3)).collect {
      case (step, prev, now) if changed(prev, now) =>
        FunnelStep(contactId, step, new Timestamp(now.get))
    }.iterator
  }
}

/** One changelog row: `action` is `+1` (assert: this step's resolved
  * timestamp is now `step_ts`) or `-1` (retract: the previously
  * emitted `step_ts` for this step no longer holds). Folding the
  * changelog (last assertion per (contact, step) minus retractions)
  * reproduces the batch funnel EXACTLY — including the cases update
  * mode cannot express. */
final case class FunnelChange(contact_id: Long, step: Int,
                              step_ts: Timestamp, action: Int)

/** Changelog-emitting funnel (VERDICT r11 task 7): the retraction-
  * complete face of [[FunnelProcessor]]. Update mode's residual
  * honesty gap is the case where a LATER-ARRIVING EARLIER opener
  * (e.g. an earlier signup) shifts a window so a previously-emitted
  * step resolves to a different timestamp — or stops resolving at
  * all (the view that qualified against the old t1 is outside
  * (t1', t1'+d] of the new one). Update mode leaves the stale row in
  * the sink; this processor emits `-1` for every previously-asserted
  * step value that changed or vanished, then `+1` for the new value,
  * so a changelog-aware sink (a MERGE target, a Flink-style upsert
  * topic) converges to batch truth. Same shared [[FunnelProcessor
  * .advance]] resolution, same O(1) state. */
final class FunnelChangelogProcessor(deadlineMs: Long)
    extends StatefulProcessor[Long, ContactEvent, FunnelChange] {

  @transient private var state: ValueState[FunnelState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[FunnelState](
      "funnel_cl", Encoders.product[FunnelState], TTLConfig.NONE)

  override def handleInputRows(contactId: Long, rows: Iterator[ContactEvent],
                               timers: TimerValues): Iterator[FunnelChange] = {
    val st = if (state.exists()) state.get()
             else FunnelState(None, None, None, Vector.empty, Vector.empty)
    val next = FunnelProcessor.advance(st, rows, deadlineMs)
    state.update(next)
    Seq((1, st.t1, next.t1), (2, st.t2, next.t2), (3, st.t3, next.t3))
      .iterator.flatMap { case (step, prev, now) =>
        if (prev == now) Iterator.empty
        else
          prev.iterator.map(p => FunnelChange(contactId, step, new Timestamp(p), -1)) ++
            now.iterator.map(n => FunnelChange(contactId, step, new Timestamp(n), 1))
      }
  }
}

/** Emitted digest row (one per contact per micro-batch with news). */
final case class ContactDigest(contact_id: Long, n_events: Long,
                               last_event_ts: Timestamp, recent_types: String)

/** Per-contact running digest as explicit keyed state in Spark 4's
  * `transformWithState` arbitrary-state API: event count, latest
  * event time, and the last `k` event types in chronological order —
  * the streaming form of the reference's per-contact digest rollup
  * (A9, run_ac_extraction.py:1436-1506), maintained incrementally
  * instead of recomputed from the full raw table each run. One
  * processor instance per partition; state is a named `ValueState`
  * (RocksDB-backed), O(k) per contact and keyed implicitly by the
  * grouping key. */
final class DigestProcessor(k: Int)
    extends StatefulProcessor[Long, ContactEvent, ContactDigest] {

  @transient private var state: ValueState[DigestState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[DigestState](
      "digest", Encoders.product[DigestState], TTLConfig.NONE)

  override def handleInputRows(contactId: Long, rows: Iterator[ContactEvent],
                               timers: TimerValues): Iterator[ContactDigest] = {
    val prev = if (state.exists()) state.get() else DigestState.empty
    prev.fold(rows, k) match {
      case Some(next) => state.update(next); next.digest(contactId).iterator
      case None => Iterator.empty
    }
  }
}

/** Emit-on-gap digest: nothing is emitted while a contact keeps
  * producing; when `gapMs` of EVENT time passes with no new events
  * (watermark crosses lastTs + gapMs), an event-time timer fires, the
  * contact's digest is emitted once as a closed session, and its
  * state is cleared — the next event starts a fresh session. This is
  * the reference's "digest the contact once activity settles"
  * cadence expressed as real event-time timers instead of cron.
  *
  * Also a [[StatefulProcessorWithInitialState]]: state can be
  * bootstrapped from the batch lake (the digest history computed by
  * [[EventStream.bootstrapDigestState]]), so a deployment switches
  * from batch to streaming without emitting first-run digests that
  * forget history. Bootstrapped contacts register a timer too —
  * a contact that never speaks again still flushes its history.
  *
  * Scale: state is O(k) per contact, timers are one per contact,
  * both RocksDB-backed and partitioned by the grouping key. */
final class SessionDigestProcessor(k: Int, gapMs: Long)
    extends StatefulProcessorWithInitialState[
      Long, ContactEvent, ContactDigest, DigestState] {

  @transient private var state: ValueState[DigestState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[DigestState](
      "session_digest", Encoders.product[DigestState], TTLConfig.NONE)

  private def rearm(expiryMs: Long): Unit = {
    // one live timer per contact: re-arming on new activity replaces
    // the previous deadline
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(expiryMs)
  }

  override def handleInitialState(contactId: Long, initial: DigestState,
                                  timers: TimerValues): Unit = {
    state.update(initial)
    initial.lastTsMillis.foreach(t => rearm(t + gapMs))
  }

  override def handleInputRows(contactId: Long, rows: Iterator[ContactEvent],
                               timers: TimerValues): Iterator[ContactDigest] = {
    val prev = if (state.exists()) state.get() else DigestState.empty
    prev.fold(rows, k).foreach { next =>
      state.update(next)
      rearm(next.lastTsMillis.get + gapMs)
    }
    Iterator.empty // emissions happen only when the gap closes
  }

  override def handleExpiredTimer(contactId: Long, timers: TimerValues,
                                  expired: ExpiredTimerInfo): Iterator[ContactDigest] = {
    val out = if (state.exists()) state.get().digest(contactId) else None
    state.clear() // session closed; the next event starts fresh
    out.iterator
  }
}

object EventStream {

  /** Tumbling-window counts/sums per event_type. `value` is
    * canonicalized to DECIMAL so batch/streaming/oracle agree. */
  def tumblingCounts(events: DataFrame, windowLen: String,
                     watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Stream-static enrichment: conform a live event stream to the
    * unified schema (narrow projection, shared with the batch
    * flagship), then broadcast-join the static contacts dim and
    * derive display name + chatter line — E3's enrich stage running
    * continuously. The static side is re-resolvable per micro-batch,
    * which is the streaming analog of the reference's dim-cache TTL
    * (SURVEY §2.9). */
  def enrichedEventStream(events: DataFrame, contacts: DataFrame): DataFrame =
    graft.pipeline.ChatterMaster.withDisplayAndLine(
      graft.pipeline.ChatterMaster.conformEventsFrame(events)
        .join(broadcast(contacts), Seq("contact_id"), "left"))

  /** Session windows per key: a session closes after `gap` of event
    * silence; the watermark bounds open-session state (batch-analog
    * oracle: q_window_session). */
  def sessionCounts(events: DataFrame, key: String, gap: String,
                    watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col(key))
      .agg(count(lit(1)).as("n"))
      .select(col(key), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"))

  /** STREAM-STREAM interval join: attribute each conversion to every
    * view by the same user within `attributionWindow` BEFORE it —
    * the canonical watermarked two-stream join (last-touch selection
    * is then the batch q_attribution_last_touch rank over this
    * output, or a downstream stateful min). Both sides carry
    * watermarks and the join condition bounds event-time distance,
    * which is exactly what lets Spark expire buffered rows: a view
    * older than watermark − attributionWindow can never match a
    * future conversion and is evicted, so state is O(rate × window),
    * not O(stream). Inner join: unmatched rows simply age out. */
  def attributionJoinStream(views: DataFrame, conversions: DataFrame,
                            attributionWindow: String,
                            watermarkDelay: String): DataFrame = {
    val v = views.select(col("user_id").as("v_user"),
      col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermarkDelay)
    val c = conversions.select(col("user_id").as("c_user"),
      col("event_id").as("conv_id"), col("ts").as("conv_ts"))
      .withWatermark("conv_ts", watermarkDelay)
    v.join(c, expr(
        s"""v_user = c_user AND
           |conv_ts >= view_ts AND
           |conv_ts <= view_ts + interval $attributionWindow""".stripMargin))
      .select(col("v_user").as("user_id"), col("view_id"), col("conv_id"),
        col("view_ts"), col("conv_ts"),
        (unix_timestamp(col("conv_ts")) - unix_timestamp(col("view_ts")))
          .as("lag_sec"))
  }

  /** Streaming Count-Min sketch: the 4×64 counter array maintained
    * as a RUNNING aggregation over the event stream — counters are
    * additive, so the plan is a plain groupBy whose state is exactly
    * 256 rows forever (no custom state store, no watermark needed:
    * the sketch summarizes ALL history by design). Point estimates
    * are then [[graft.ops.Sketches.cmsEstimate]] over the current
    * counter snapshot — e.g. inside foreachBatch against a keys
    * table, or batch-side after a sink. Expression trees are shared
    * with the batch sketch (q_cms_estimate), so the DuckDB oracle
    * covers this face's arithmetic. */
  def cmsCounterStream(events: DataFrame, key: String): DataFrame =
    graft.ops.Sketches.cmsCounters(events, key)

  /** At-least-once input → exactly-once effect: drop redelivered
    * rows by id, state bounded by the watermark (the streaming form
    * of the reference's content-hash merge dedup). */
  def dedupByIdWithWatermark(events: DataFrame, watermarkDelay: String): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** [[DigestProcessor]] wired to a grouped stream — requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  def contactDigestTransformWithState(events: Dataset[ContactEvent],
                                      k: Int): Dataset[ContactDigest] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.contact_id)
      .transformWithState(new DigestProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  /** [[FunnelProcessor]] wired to a grouped stream — requires the
    * RocksDB state store provider, like the other transformWithState
    * surfaces. `deadlineMs` defaults to the batch operator's 1 day. */
  def funnelStream(events: Dataset[ContactEvent],
                   deadlineMs: Long = 86400000L): Dataset[FunnelStep] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.contact_id)
      .transformWithState(new FunnelProcessor(deadlineMs),
        TimeMode.None(), OutputMode.Update())
  }

  /** [[FunnelChangelogProcessor]] wired to a grouped stream: the
    * retraction-complete funnel face. Folding the changelog — the
    * LAST +1 per (contact, step) not cancelled by a later −1 in the
    * same batch prefix — equals the batch funnel on the events so
    * far, even when a late earlier opener undoes an emitted step
    * (the case update mode structurally cannot fix in the sink). */
  def funnelChangelogStream(events: Dataset[ContactEvent],
                            deadlineMs: Long = 86400000L): Dataset[FunnelChange] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.contact_id)
      .transformWithState(new FunnelChangelogProcessor(deadlineMs),
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-contact digest state folded from the batch lake — the
    * initial-state input for [[sessionDigestStream]] when a
    * deployment switches from batch runs to the stream. One pass of
    * the stream's own [[DigestState.fold]], so the tail equals the one
    * the stream builds from the same events; O(k) memory per contact. */
  def bootstrapDigestState(lake: Dataset[ContactEvent],
                           k: Int): Dataset[(Long, DigestState)] = {
    import lake.sparkSession.implicits._
    lake.groupByKey(_.contact_id).mapGroups { (cid, it) =>
      (cid, DigestState.empty.fold(it, k).getOrElse(DigestState.empty))
    }
  }

  /** [[SessionDigestProcessor]] wired to a watermarked stream:
    * event-time timers emit each contact's digest once `gapMs` of
    * event time passes without activity, optionally seeded with
    * [[bootstrapDigestState]] history from the batch lake. Requires
    * the RocksDB state store provider. */
  def sessionDigestStream(events: Dataset[ContactEvent], k: Int, gapMs: Long,
                          watermarkDelay: String,
                          initialState: Option[Dataset[(Long, DigestState)]] = None)
      : Dataset[ContactDigest] = {
    import events.sparkSession.implicits._
    val grouped = events.withWatermark("event_ts", watermarkDelay)
      .groupByKey(_.contact_id)
    val proc = new SessionDigestProcessor(k, gapMs)
    initialState match {
      case Some(init) =>
        grouped.transformWithState(proc, TimeMode.EventTime(),
          OutputMode.Append(), init.groupByKey(_._1).mapValues(_._2))
      case None =>
        grouped.transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
    }
  }

  /** Per-micro-batch delta sink: each batch writes its own
    * batchId-keyed dir (the reference's runs/<run_id>/delta layout,
    * run_ac_extraction.py:156-157). */
  def deltaSink(events: DataFrame, outRoot: String,
                checkpoint: String): DataStreamWriter[Row] =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outRoot/batch_$batchId")
      }

  /** Streaming persist-dual: every micro-batch flows through the full
    * E2 merge (delta write → content-hash dedup into master/raw →
    * latest-per-key snapshot), run_id = batchId — the reference's
    * cron-run merge as a `foreachBatch` MERGE-style upsert
    * (SURVEY.md §2.9 "late/updated data"). Redelivered rows across
    * batch boundaries collapse in the content-hash dedup, so the lake
    * stays idempotent even though the stream is at-least-once. */
  def persistDualSink(events: DataFrame, root: String, table: String,
                      checkpoint: String, keyCols: Seq[String],
                      updatedAtCol: String,
                      extractedAt: String,
                      partitionCols: Seq[String] = Nil,
                      partitionScoped: Boolean = false): DataStreamWriter[Row] = {
    val paths = graft.pipeline.PersistTableDual.Paths(root, table)
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // partitionScoped composes naturally with micro-batching:
        // each batch merges and swaps ONLY its own partitions, so
        // steady-state streaming cost is O(batch), not O(lake) —
        // same key-functional partitioning contract as the batch path
        graft.pipeline.PersistTableDual.persist(
          batch.sparkSession, paths, batch, s"batch_$batchId",
          extractedAt, keyCols, updatedAtCol,
          partitionCols = partitionCols, partitionScoped = partitionScoped)
        ()
      }
  }
}
