package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTesting
import graft.sources.FixtureBackend

case class Ev(event_id: Long, ts: Timestamp, event_type: String, value: Double)
case class EvFull(event_id: Long, ts: Timestamp, user_id: Long,
                  event_type: String, value: Double, props: String)

class EventStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream-stream attribution join: conversions match in-window views " +
      "across micro-batches, out-of-window never match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class E(event_id: Long, ts: Timestamp, user_id: Long)
    val views = MemoryStream[(Long, Timestamp, Long)]
    val convs = MemoryStream[(Long, Timestamp, Long)]
    val joined = EventStream.attributionJoinStream(
      views.toDF().toDF("event_id", "ts", "user_id"),
      convs.toDF().toDF("event_id", "ts", "user_id"),
      attributionWindow = "10 minutes", watermarkDelay = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 views at 00:00 and 00:08; user 2 views at 00:00
      views.addData((101L, ts("2024-01-01 00:00:00"), 1L),
        (102L, ts("2024-01-01 00:08:00"), 1L),
        (201L, ts("2024-01-01 00:00:00"), 2L))
      q.processAllAvailable()
      // batch 2 (other stream): user 1 converts at 00:09 (both views
      // in window), user 2 converts at 00:30 (view out of window)
      convs.addData((901L, ts("2024-01-01 00:09:00"), 1L),
        (902L, ts("2024-01-01 00:30:00"), 2L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql(
      "SELECT user_id, view_id, conv_id, lag_sec FROM attrib ORDER BY view_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 101L, 901L, 540L),  // 00:00 view → 00:09 conv, 9 min lag
      (1L, 102L, 901L, 60L)))  // 00:08 view → 00:09 conv, 1 min lag
    // user 2's conversion 30 min after the view matched nothing
  }

  test("tumbling-window counts over a stream match the batch analog") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val events = Seq(
      Ev(1, ts("2024-01-01 00:10:00"), "click", 1.0),
      Ev(2, ts("2024-01-01 00:40:00"), "click", 2.0),
      Ev(3, ts("2024-01-01 01:10:00"), "view", 3.0),
      Ev(4, ts("2024-01-01 01:20:00"), "click", 4.0))
    input.addData(events: _*)

    val agg = EventStream.tumblingCounts(input.toDF(), "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.sql(
      """SELECT date_format(window_start,'yyyy-MM-dd HH:mm:ss') ws, event_type, n,
        |CAST(total_value AS STRING) tv FROM tumbling ORDER BY ws, event_type""".stripMargin)
      .as[(String, String, Long, String)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01 00:00:00", "click", 2L, "3.00"),
      ("2024-01-01 01:00:00", "click", 1L, "4.00"),
      ("2024-01-01 01:00:00", "view", 1L, "3.00")))

    // batch analog over the same rows produces identical groups
    val batch = EventStream.tumblingCounts(events.toDF(), "1 hour", "10 minutes")
      .selectExpr("date_format(window_start,'yyyy-MM-dd HH:mm:ss') ws",
        "event_type", "n", "CAST(total_value AS STRING) tv")
      .orderBy("ws", "event_type")
      .as[(String, String, Long, String)].collect().toSeq
    assert(batch == got)
  }

  test("session windows: gap closes a session, watermark bounds state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    // two bursts for "click" separated by > 30min, one lone "view"
    input.addData(
      Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0),
      Ev(2, ts("2024-01-01 00:10:00"), "click", 1.0),
      Ev(3, ts("2024-01-01 01:00:00"), "click", 1.0),
      Ev(4, ts("2024-01-01 00:05:00"), "view", 1.0))
    val agg = EventStream.sessionCounts(input.toDF(), "event_type", "30 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql(
      """SELECT event_type, date_format(session_start,'HH:mm') s,
        |date_format(session_end,'HH:mm') e, n
        |FROM sessions ORDER BY event_type, s""".stripMargin)
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == Seq(
      ("click", "00:00", "00:40", 2L),  // 00:00+00:10 merge; end = last+gap
      ("click", "01:00", "01:30", 1L),  // 50min gap starts a new session
      ("view", "00:05", "00:35", 1L)))
  }

  test("redelivered ids are dropped within the watermark (exactly-once effect)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val dedup = EventStream.dedupByIdWithWatermark(input.toDF(), "1 hour")
    val q = dedup.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0))
      q.processAllAvailable()
      // redelivery of id=1 plus a new id=2
      input.addData(
        Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0),
        Ev(2, ts("2024-01-01 00:05:00"), "view", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.sql("SELECT event_id FROM dedup ORDER BY event_id")
      .as[Long].collect().toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("stream-static enrichment: conformed stream broadcast-joins the contacts dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EvFull]
    val contacts = Seq((7L, "Alice Retail", "RETAIL"))
      .toDF("contact_id", "contact_name", "segment")
    input.addData(
      EvFull(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0, """{"k":"v1"}"""),
      EvFull(2, ts("2024-01-01 00:01:00"), 8, "view", 2.0, """{"k":"v2"}"""))
    val enriched = EventStream.enrichedEventStream(input.toDF(), contacts)
    val q = enriched.writeStream.format("memory").queryName("enriched_stream")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql(
      """SELECT contact_id, contact_display, chatter_line
        |FROM enriched_stream ORDER BY contact_id""".stripMargin)
      .as[(Long, String, String)].collect().toSeq
    assert(got.size == 2)
    assert(got(0) == ((7L,
      "Alice Retail RETAIL",
      "2024-01-01 00:00:00 — activity click — Alice Retail RETAIL — v1 — https://example.test/events/1")))
    // unmatched contact falls back to contact#id; join stays left
    assert(got(1)._2 == "contact#8")
  }

  test("foreachBatch delta sink writes batchId-keyed dirs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val root = Files.createTempDirectory("delta").toString
    val cp = Files.createTempDirectory("cp").toString
    input.addData(Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0))
    val q = EventStream.deltaSink(input.toDF(), root, cp).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$root/batch_0").count() == 1)
  }

  test("streaming funnel == batch funnel semantics across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[ContactEvent]
      val q = EventStream.funnelStream(input.toDS())
        .writeStream.format("memory").queryName("funnel_steps")
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1: u1 signs up and views in time; u2 signs up; u3
        // views with NO signup (must not start a funnel)
        input.addData(
          ContactEvent(1, 10, ts("2024-01-01 00:00:00"), "signup"),
          ContactEvent(1, 11, ts("2024-01-01 05:00:00"), "view"),
          ContactEvent(2, 20, ts("2024-01-01 00:00:00"), "signup"),
          ContactEvent(3, 30, ts("2024-01-01 00:00:00"), "view"))
        q.processAllAvailable()
        // batch 2: u1 purchases within a day of the view (step 3,
        // state carried across batches); u2 views AFTER the 1-day
        // deadline (no step 2, so the later purchase can't count);
        // u3 finally signs up (step 1 only — its old view is gone,
        // exactly like the batch operator, which requires view AFTER
        // signup)
        input.addData(
          ContactEvent(1, 12, ts("2024-01-01 20:00:00"), "purchase"),
          ContactEvent(2, 21, ts("2024-01-02 01:00:00"), "view"),
          ContactEvent(2, 22, ts("2024-01-02 02:00:00"), "purchase"),
          ContactEvent(3, 31, ts("2024-01-02 00:00:00"), "signup"))
        q.processAllAvailable()
      } finally q.stop()
      val steps = spark.sql("SELECT contact_id, step FROM funnel_steps")
        .as[(Long, Int)].collect().toSet
      // the batch q_funnel_steps definition on these 8 rows yields
      // exactly: u1 completes all 3, u2 and u3 stop at step 1
      assert(steps == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (3L, 1)))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel: shuffled micro-batch order resolves batch-identically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[ContactEvent]
      val q = EventStream.funnelStream(input.toDS())
        .writeStream.format("memory").queryName("funnel_steps_ooo")
        .outputMode(OutputMode.Update).start()
      try {
        // SAME 8 events as the in-order test, but every dependent
        // arrives BEFORE its opener: all views/purchases first, all
        // signups a batch later — the arrival order that silently
        // diverged from batch under first-seen resolution
        input.addData(
          ContactEvent(1, 11, ts("2024-01-01 05:00:00"), "view"),
          ContactEvent(1, 12, ts("2024-01-01 20:00:00"), "purchase"),
          ContactEvent(2, 21, ts("2024-01-02 01:00:00"), "view"),
          ContactEvent(2, 22, ts("2024-01-02 02:00:00"), "purchase"),
          ContactEvent(3, 30, ts("2024-01-01 00:00:00"), "view"))
        q.processAllAvailable()
        input.addData(
          ContactEvent(1, 10, ts("2024-01-01 00:00:00"), "signup"),
          ContactEvent(2, 20, ts("2024-01-01 00:00:00"), "signup"),
          ContactEvent(3, 31, ts("2024-01-02 00:00:00"), "signup"))
        q.processAllAvailable()
      } finally q.stop()
      val steps = spark.sql(
        "SELECT contact_id, step, CAST(step_ts AS STRING) FROM funnel_steps_ooo")
        .as[(Long, Int, String)].collect().toSet
      // identical to the batch operator on these 8 rows — including
      // the step TIMES, which first-seen arrival-order resolution
      // could never reconstruct from this delivery order
      assert(steps == Set(
        (1L, 1, "2024-01-01 00:00:00"),
        (1L, 2, "2024-01-01 05:00:00"),
        (1L, 3, "2024-01-01 20:00:00"),
        (2L, 1, "2024-01-01 00:00:00"),
        (3L, 1, "2024-01-02 00:00:00")))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnel changelog: a later-arriving EARLIER signup retracts emitted steps " +
      "and the folded changelog equals the batch formula (VERDICT r11 task 7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[ContactEvent]
      val q = EventStream.funnelChangelogStream(input.toDS())
        .writeStream.format("memory").queryName("funnel_changelog")
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1: both contacts resolve against their first-seen signup
        input.addData(
          // c5 completes the whole chain
          ContactEvent(5, 50, ts("2024-01-05 00:00:00"), "signup"),
          ContactEvent(5, 51, ts("2024-01-05 06:00:00"), "view"),
          ContactEvent(5, 52, ts("2024-01-05 12:00:00"), "purchase"),
          // c6: a pre-signup view (non-qualifying, retained) + a
          // qualifying one
          ContactEvent(6, 60, ts("2024-01-03 00:00:00"), "signup"),
          ContactEvent(6, 61, ts("2024-01-02 18:00:00"), "view"),
          ContactEvent(6, 62, ts("2024-01-03 10:00:00"), "view"))
        q.processAllAvailable()
        // batch 2: the undo case update mode cannot express — a LATE,
        // EARLIER signup arrives for both. c5's view now falls outside
        // (t1', t1'+1d] so steps 2 AND 3 must be retracted outright;
        // c6's step 2 must MOVE to the previously-non-qualifying
        // earlier view.
        input.addData(
          ContactEvent(5, 53, ts("2024-01-01 00:00:00"), "signup"),
          ContactEvent(6, 63, ts("2024-01-02 12:00:00"), "signup"))
        q.processAllAvailable()
      } finally q.stop()
      val changes = spark.sql(
        "SELECT contact_id, step, CAST(step_ts AS STRING), action FROM funnel_changelog")
        .as[(Long, Int, String, Int)].collect().toSeq
      assert(changes.toSet == Set(
        // batch 1 assertions
        (5L, 1, "2024-01-05 00:00:00", 1),
        (5L, 2, "2024-01-05 06:00:00", 1),
        (5L, 3, "2024-01-05 12:00:00", 1),
        (6L, 1, "2024-01-03 00:00:00", 1),
        (6L, 2, "2024-01-03 10:00:00", 1),
        // batch 2: c5 — step 1 moves, steps 2+3 retract with NO
        // replacement (the chain is genuinely undone)
        (5L, 1, "2024-01-05 00:00:00", -1),
        (5L, 1, "2024-01-01 00:00:00", 1),
        (5L, 2, "2024-01-05 06:00:00", -1),
        (5L, 3, "2024-01-05 12:00:00", -1),
        // batch 2: c6 — step 1 moves, step 2 moves to the earlier view
        (6L, 1, "2024-01-03 00:00:00", -1),
        (6L, 1, "2024-01-02 12:00:00", 1),
        (6L, 2, "2024-01-03 10:00:00", -1),
        (6L, 2, "2024-01-02 18:00:00", 1)))
      // fold the changelog the way a MERGE sink would: net assertion
      // per (contact, step, ts) — the survivors must equal the batch
      // formula over ALL 8 events (t1 = min signup, t2 = min view in
      // (t1, t1+d], t3 = min purchase in (t2, t2+d])
      val folded = changes.groupBy(c => (c._1, c._2, c._3))
        .map { case (k, v) => k -> v.map(_._4).sum }
        .filter(_._2 > 0).keySet
      assert(folded == Set(
        (5L, 1, "2024-01-01 00:00:00"),
        (6L, 1, "2024-01-02 12:00:00"),
        (6L, 2, "2024-01-02 18:00:00")),
        "folded changelog must equal the batch funnel on the full event set")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel: a late pre-signup view backlog cannot evict the resolved step") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[ContactEvent]
      val q = EventStream.funnelStream(input.toDS())
        .writeStream.format("memory").queryName("funnel_steps_evict")
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1: the funnel resolves completely
        input.addData(
          ContactEvent(9, 90, ts("2024-01-03 10:00:00"), "signup"),
          ContactEvent(9, 91, ts("2024-01-03 12:00:00"), "view"),
          ContactEvent(9, 92, ts("2024-01-03 13:00:00"), "view"),
          ContactEvent(9, 93, ts("2024-01-03 20:00:00"), "purchase"))
        q.processAllAvailable()
        // batch 2: 70 late never-qualifying pre-signup views — more
        // than MaxCands(64); qualifying-first retention must keep the
        // resolved 12:00 view, so the chain does not regress or
        // re-emit with a later timestamp
        input.addData((0 until 70).map(i =>
          ContactEvent(9, 200 + i, ts(f"2024-01-01 00:${i % 60}%02d:${i / 60}%02d"), "view")): _*)
        q.processAllAvailable()
      } finally q.stop()
      val steps = spark.sql(
        "SELECT contact_id, step, CAST(step_ts AS STRING) FROM funnel_steps_evict")
        .as[(Long, Int, String)].collect().toSet
      assert(steps == Set(
        (9L, 1, "2024-01-03 10:00:00"),
        (9L, 2, "2024-01-03 12:00:00"),
        (9L, 3, "2024-01-03 20:00:00")))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState digest == flatMapGroupsWithState digest (RocksDB state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[ContactEvent]
      val digests = EventStream.contactDigestTransformWithState(input.toDS(), k = 3)
      val q = digests.writeStream.format("memory").queryName("tws_digests")
        .outputMode(OutputMode.Update).start()
      try {
        input.addData(
          ContactEvent(1, 10, ts("2024-01-01 00:00:00"), "signup"),
          ContactEvent(1, 11, ts("2024-01-01 00:01:00"), "click"),
          ContactEvent(2, 20, ts("2024-01-01 00:02:00"), "view"))
        q.processAllAvailable()
        input.addData(
          ContactEvent(1, 12, ts("2024-01-01 00:03:00"), "view"),
          ContactEvent(1, 13, ts("2024-01-01 00:04:00"), "purchase"),
          ContactEvent(1, 14, ts("2024-01-01 00:05:00"), "click"))
        q.processAllAvailable()
      } finally q.stop()
      // the emissions the former flatMapGroupsWithState digest gave for
      // this scenario. The memory sink in Update mode appends each
      // emission; the digest for contact 1 after batch 2 is the row
      // with the highest n_events
      val c1 = spark.sql(
        """SELECT n_events, date_format(last_event_ts,'yyyy-MM-dd HH:mm:ss'), recent_types
          |FROM tws_digests WHERE contact_id = 1 ORDER BY n_events DESC LIMIT 1""".stripMargin)
        .as[(Long, String, String)].head()
      assert(c1 == ((5L, "2024-01-01 00:05:00", "view, purchase, click")))
      val c1b1 = spark.sql(
        "SELECT n_events, recent_types FROM tws_digests WHERE contact_id = 1 ORDER BY n_events LIMIT 1")
        .as[(Long, String)].head()
      assert(c1b1 == ((2L, "signup, click")))
      val c2 = spark.sql("SELECT n_events, recent_types FROM tws_digests WHERE contact_id = 2")
        .as[(Long, String)].collect().toSeq
      assert(c2 == Seq((1L, "view")))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("emit-on-gap session digest: event-time timers flush, bootstrap counts history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch-lake history for contact 1: two events
      val lake = Seq(
        ContactEvent(1, 1, ts("2024-01-01 00:00:00"), "signup"),
        ContactEvent(1, 2, ts("2024-01-01 00:01:00"), "click")).toDS()
      val init = EventStream.bootstrapDigestState(lake, k = 3)

      val input = MemoryStream[ContactEvent]
      val digests = EventStream.sessionDigestStream(input.toDS(), k = 3,
        gapMs = 5 * 60 * 1000L, watermarkDelay = "1 minute",
        initialState = Some(init))
      val q = digests.writeStream.format("memory").queryName("gap_digests")
        .outputMode(OutputMode.Append).start()
      try {
        // batch 1: contact 1 resumes (history + 1), contact 2 is new.
        // Nothing may be emitted yet — the gap is still open.
        input.addData(
          ContactEvent(1, 10, ts("2024-01-01 00:10:00"), "view"),
          ContactEvent(2, 20, ts("2024-01-01 00:10:30"), "purchase"))
        q.processAllAvailable()
        assert(spark.sql("SELECT count(*) FROM gap_digests").head().getLong(0) == 0,
          "no emission while the gap is open")

        // batch 2: a far-future event for contact 9 advances the
        // watermark past both contacts' gap deadlines → timers fire
        input.addData(ContactEvent(9, 90, ts("2024-01-01 01:00:00"), "view"))
        q.processAllAvailable()
        // one more empty-ish cycle so the batch-2 watermark applies
        input.addData(ContactEvent(9, 91, ts("2024-01-01 01:00:01"), "view"))
        q.processAllAvailable()
      } finally q.stop()

      val got = spark.sql(
        """SELECT contact_id, n_events, recent_types FROM gap_digests
          |ORDER BY contact_id""".stripMargin)
        .as[(Long, Long, String)].collect().toSeq
      // contact 1: 2 bootstrapped + 1 streamed; tail merges history
      assert(got.contains((1L, 3L, "signup, click, view")),
        s"bootstrapped session digest wrong: $got")
      assert(got.contains((2L, 1L, "purchase")), s"fresh contact digest wrong: $got")
      // contact 9's gap never closed — no emission for it
      assert(!got.exists(_._1 == 9L), s"open session must not emit: $got")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("bootstrapped digest state equals the stream's digest on tied timestamps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // two events at the same ts, arriving in reverse event_id order;
      // with k = 1 only the (ts, event_id)-greatest survives the tail
      val events = Seq(
        ContactEvent(1, 2, ts("2024-01-01 00:00:00"), "view"),
        ContactEvent(1, 1, ts("2024-01-01 00:00:00"), "signup"))
      val input = MemoryStream[ContactEvent]
      val q = EventStream.contactDigestTransformWithState(input.toDS(), k = 1)
        .writeStream.format("memory").queryName("tied_digests")
        .outputMode(OutputMode.Update).start()
      try {
        input.addData(events: _*)
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.sql("SELECT * FROM tied_digests").as[ContactDigest].collect().toSeq
      val boot = EventStream.bootstrapDigestState(events.toDS(), k = 1).collect().toSeq
      assert(streamed.map(_.recent_types) == Seq("view"), s"stream digest: $streamed")
      assert(boot.map { case (cid, st) => st.digest(cid) } == streamed.map(Some(_)),
        s"bootstrapped $boot vs streamed $streamed")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming persist-dual: micro-batches merge idempotently into raw/latest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, String)]
    val root = Files.createTempDirectory("spd").toString
    val cp = Files.createTempDirectory("spd_cp").toString
    def sink() = EventStream.persistDualSink(
      input.toDF().toDF("contact_id", "email", "updated_at"),
      root, "contacts", cp, Seq("contact_id"), "updated_at",
      "2026-01-01T00:00:00Z")

    // batch 0: two contacts
    input.addData(("1", "a@x", "2024-01-01"), ("2", "b@x", "2024-01-01"))
    val q1 = sink().start(); try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$root/master/raw/contacts").count() == 2)

    // batch 1: redelivery of contact 1 (identical) + update of contact 2
    input.addData(("1", "a@x", "2024-01-01"), ("2", "b2@x", "2024-02-01"))
    val q2 = sink().start(); try q2.processAllAvailable() finally q2.stop()

    // raw: redelivered row collapsed by content hash; update appended
    assert(spark.read.parquet(s"$root/master/raw/contacts").count() == 3)
    // latest: one row per key, update wins
    val latest = spark.read.parquet(s"$root/master/latest/contacts")
      .select("contact_id", "email").as[(String, String)].collect().sortBy(_._1)
    assert(latest.toSeq == Seq(("1", "a@x"), ("2", "b2@x")))
  }

  test("streaming lifecycle: checkpointed keyset offsets + partition-scoped O(batch) merges") {
    import spark.implicits._
    FixtureBackend.reset()
    FixtureBackend.dynamicTotal.set(120)
    val root = Files.createTempDirectory("stream_lc").toString
    val opts = Map("dynamictotal" -> "true", "pagelimit" -> "50")

    // run 1: everything is new (ids 0..119 → buckets 0 and 1)
    graft.pipeline.RunPipeline.runStreamingOnce(spark, root, opts, "2026-01-01T00:00:00Z")
    assert(spark.read.parquet(s"$root/master/raw/contacts").count() == 120)

    def hashes(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).map { f =>
        f.getName -> java.util.Arrays.hashCode(
          java.nio.file.Files.readAllBytes(f.toPath))
      }.toMap
    val bucket0Before = hashes(s"$root/master/raw/contacts/bucket=0")

    // run 2 after upstream grew by 30: the checkpoint's committed
    // offset replaces state.json — only the delta is ingested
    FixtureBackend.dynamicTotal.set(150)
    graft.pipeline.RunPipeline.runStreamingOnce(spark, root, opts, "2026-01-02T00:00:00Z")
    val delta1 = spark.read.parquet(s"$root/runs/batch_1/delta/contacts")
    assert(delta1.count() == 30, "second micro-batch ingests ONLY past the offset")
    assert(delta1.agg(org.apache.spark.sql.functions.min("id"),
      org.apache.spark.sql.functions.max("id")).as[(Long, Long)].head() == ((120L, 149L)))
    // O(batch) merge: the delta lands in buckets 1/2 — bucket 0's
    // files must be byte-identical (untouched by the scoped swap)
    assert(hashes(s"$root/master/raw/contacts/bucket=0") == bucket0Before,
      "bucket 0 untouched by a tail-bucket micro-batch")
    assert(spark.read.parquet(s"$root/master/raw/contacts").count() == 150)

    // run 3, unchanged upstream: AvailableNow plans no batch — the
    // raw lake and the run ledger are idempotent
    graft.pipeline.RunPipeline.runStreamingOnce(spark, root, opts, "2026-01-03T00:00:00Z")
    assert(!new java.io.File(s"$root/runs/batch_2").exists(),
      "a no-op run must not write a delta dir")
    assert(spark.read.parquet(s"$root/master/raw/contacts").count() == 150)
  }

  test("streaming persist-dual, partition-scoped: a batch touches only its buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, String)]
    val root = Files.createTempDirectory("spd_scoped").toString
    val cp = Files.createTempDirectory("spd_scoped_cp").toString
    // bucket is a pure function of the key (the partitionScoped contract)
    def sink() = EventStream.persistDualSink(
      input.toDF().toDF("contact_id", "email", "updated_at")
        .withColumn("bucket",
          org.apache.spark.sql.functions.when($"contact_id" <= "2", "a").otherwise("b")),
      root, "contacts", cp, Seq("contact_id"), "updated_at",
      "2026-01-01T00:00:00Z", partitionCols = Seq("bucket"), partitionScoped = true)

    input.addData(("1", "a@x", "2024-01-01"), ("3", "c@x", "2024-01-01"))
    val q1 = sink().start(); try q1.processAllAvailable() finally q1.stop()
    def hashes(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).map { f =>
        f.getName -> java.util.Arrays.hashCode(
          java.nio.file.Files.readAllBytes(f.toPath))
      }.toMap
    val beforeA = hashes(s"$root/master/raw/contacts/bucket=a")

    // next micro-batch touches only bucket b
    input.addData(("3", "c2@x", "2024-02-01"))
    val q2 = sink().start(); try q2.processAllAvailable() finally q2.stop()
    assert(hashes(s"$root/master/raw/contacts/bucket=a") == beforeA,
      "bucket a untouched by a bucket-b micro-batch")
    assert(spark.read.parquet(s"$root/master/raw/contacts").count() == 3)
    val e3 = spark.read.parquet(s"$root/master/latest/contacts")
      .filter($"contact_id" === "3").select("email").as[String].head()
    assert(e3 == "c2@x")
  }

  test("streaming CMS: counters converge to the batch sketch across " +
      "micro-batches, estimates never undercount, state is <= 256 rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val counters = EventStream.cmsCounterStream(
      input.toDF().toDF("user_id"), "user_id")
    val q = counters.writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Complete).start()
    val b1 = Seq.tabulate(40)(i => (i % 7).toLong)
    val b2 = Seq.tabulate(25)(i => (i % 5).toLong * 13)
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT i, bucket, c FROM cms")
      .as[(Int, Int, Long)].collect().sorted.toSeq
    assert(got.nonEmpty && got.size <= 256, "state bounded by d*w")
    // the running aggregation over both batches IS the batch sketch
    // over the union — additive counters, same expression trees
    val all = (b1 ++ b2).toDF("user_id")
    val batch = graft.ops.Sketches.cmsCounters(all, "user_id")
      .as[(Int, Int, Long)].collect().sorted.toSeq
    assert(got == batch, "streaming counters == batch counters")
    // and estimates off the final snapshot obey the one-sided contract
    val truth = all.groupBy("user_id").count()
    val est = graft.ops.Sketches.cmsEstimate(
        truth.select("user_id"), "user_id",
        spark.sql("SELECT i, bucket, c FROM cms"))
      .join(truth, Seq("user_id"))
      .select("user_id", "cms_estimate", "count")
      .as[(Long, Long, Long)].collect()
    assert(est.nonEmpty)
    est.foreach { case (u, e, n) =>
      assert(e >= n, s"user $u: streaming CMS must never undercount") }
  }

  test("streaming funnel: randomized differential parity vs the batch formula " +
      "under fully shuffled cross-batch arrival (VERDICT r10 item 4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(1123)
      val deadlineMs = 86400000L
      val base = ts("2024-01-01 00:00:00").getTime
      // 40 users, 1-2 signups + up to 6 views + 6 purchases each,
      // timestamps anywhere in a 4-day window (deadline = 1 day, so
      // qualifying and non-qualifying events mix freely)
      var eid = 0L
      def mk(u: Long, tpe: String): ContactEvent = {
        eid += 1
        ContactEvent(u, eid,
          new Timestamp(base + rnd.nextLong(4L * 86400000L)), tpe)
      }
      val events = (1L to 40L).flatMap { u =>
        Seq.fill(1 + rnd.nextInt(2))(mk(u, "signup")) ++
          Seq.fill(rnd.nextInt(7))(mk(u, "view")) ++
          Seq.fill(rnd.nextInt(7))(mk(u, "purchase"))
      }
      // the batch q_funnel_steps resolution on the FULL event set
      def resolve(evs: Seq[ContactEvent]): (Option[Long], Option[Long], Option[Long]) = {
        def times(t: String) =
          evs.filter(_.event_type == t).map(_.event_ts.getTime)
        val t1 = times("signup").minOption
        val t2 = t1.flatMap(s =>
          times("view").filter(v => v > s && v <= s + deadlineMs).minOption)
        val t3 = t2.flatMap(v =>
          times("purchase").filter(p => p > v && p <= v + deadlineMs).minOption)
        (t1, t2, t3)
      }
      val expected = events.groupBy(_.contact_id).view.mapValues(resolve).toMap

      // fully shuffled GLOBAL arrival order, 6 micro-batches
      val shuffled = rnd.shuffle(events)
      val batches = shuffled.grouped((shuffled.size + 5) / 6).toSeq
      val emissions = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Long)] // (batchId, user, step, tsMillis)
      val input = MemoryStream[ContactEvent]
      val q = EventStream.funnelStream(input.toDS(), deadlineMs)
        .writeStream.outputMode(OutputMode.Update)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[FunnelStep], id: Long) =>
          df.collect().foreach(s =>
            emissions.synchronized {
              emissions += ((id, s.contact_id, s.step, s.step_ts.getTime))
            })
        }.start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()

      // latest emission per (user, step) — update mode re-emits on
      // improvement, so the LAST batch that touched a step carries
      // its current resolution
      val latest = emissions.groupBy(e => (e._2, e._3)).view
        .mapValues(_.maxBy(_._1)._4).toMap
      var resolved2 = 0; var resolved3 = 0
      expected.foreach { case (u, (t1, t2, t3)) =>
        Seq((1, t1), (2, t2), (3, t3)).foreach {
          case (step, Some(tv)) =>
            assert(latest.get((u, step)).contains(tv),
              s"user $u step $step: batch resolves ${new Timestamp(tv)}, " +
                s"stream latest = ${latest.get((u, step)).map(new Timestamp(_))}")
            if (step == 2) resolved2 += 1
            if (step == 3) resolved3 += 1
          case (step, None) =>
            // the documented residual: an emitted step can go stale
            // when a later-arriving EARLIER opener shifts the window
            // (update mode cannot retract) — a leftover emission is
            // permitted here, but a step the batch never resolves
            // must never be fabricated by events alone in order
            ()
        }
      }
      // the fixture must actually exercise the deep steps, or the
      // parity above is vacuous
      assert(resolved2 >= 10, s"seed too weak: only $resolved2 step-2 users")
      assert(resolved3 >= 3, s"seed too weak: only $resolved3 step-3 users")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
