package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTesting

case class Doc(doc_id: Long, ingest_ts: Timestamp, text: String)

class DocStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  /** 20 tokens, all distinct, avg token length 4.4, contains 'the' —
    * passes every gate rule. */
  private val cleanText =
    ((1 to 10).map(i => f"w$i%02da") ++ (1 to 9).map(i => f"w$i%02dab") :+ "the")
      .mkString(" ")

  test("streaming quality gate == batch verdict on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      Doc(1, ts("2024-01-01 00:00:10"), cleanText),
      Doc(2, ts("2024-01-01 00:00:20"), "tiny doc"),
      Doc(3, ts("2024-01-01 00:00:30"), ("thing " * 30).trim))
    val input = MemoryStream[Doc]
    input.addData(docs: _*)
    val q = DocStream.qualityGated(input.toDF())
      .writeStream.format("memory").queryName("doc_gate").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.sql(
      "SELECT doc_id, n_tokens, reject_reason, keep FROM doc_gate ORDER BY doc_id")
      .as[(Long, Long, Option[String], Int)].collect().toSeq
    val batch = DocStream.qualityGated(docs.toDF())
      .selectExpr("doc_id", "n_tokens", "reject_reason", "keep")
      .orderBy("doc_id")
      .as[(Long, Long, Option[String], Int)].collect().toSeq
    assert(streamed == batch, "stream and batch verdicts must be identical")
    assert(streamed.map(r => r._1 -> (r._3, r._4)).toMap == Map(
      1L -> (None, 1),                       // clean doc passes
      2L -> (Some("too_short"), 0),          // 2 tokens
      3L -> (Some("low_diversity"), 0)))     // 30× the same 5-char token
  }

  test("streaming exact dedup collapses re-delivered docs within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = DocStream.dedupExactStream(input.toDF(), "ingest_ts", "10 minutes")
      .writeStream.format("memory").queryName("doc_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(1, ts("2024-01-01 00:00:00"), "alpha beta"),
        Doc(2, ts("2024-01-01 00:01:00"), "gamma delta"))
      q.processAllAvailable()
      // re-crawl of doc 1's content (new id, same text) + a new doc
      input.addData(
        Doc(3, ts("2024-01-01 00:02:00"), "alpha beta"),
        Doc(4, ts("2024-01-01 00:03:00"), "epsilon zeta"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM doc_dedup ORDER BY doc_id")
        .as[Long].collect().toSeq
      assert(got == Seq(1L, 2L, 4L),
        "the re-delivered fingerprint must be dropped, new content kept")
    } finally q.stop()
  }

  test("streaming decontamination gate: eval-overlapping docs flagged exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static benchmark shingle set: one 3-gram
    val evalShingles = Seq("alpha beta gamma").toDF("sh")
    val input = MemoryStream[Doc]
    val q = DocStream.contaminatedStream(input.toDF(), evalShingles,
      n = 3, tsCol = "ingest_ts", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("doc_contam")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        // contains the eval 3-gram TWICE (two matching shingles must
        // still emit the doc once)
        Doc(1, ts("2024-01-01 00:00:00"),
          "alpha beta gamma delta alpha beta gamma"),
        Doc(2, ts("2024-01-01 00:01:00"), "clean words entirely here"),
        Doc(3, ts("2024-01-01 00:02:00"), "ends with alpha beta gamma"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM doc_contam ORDER BY doc_id")
        .as[Long].collect().toSeq
      assert(got == Seq(1L, 3L),
        "overlapping docs flagged once each; clean doc passes")
    } finally q.stop()
  }

  test("end-to-end ingestion lifecycle: dedup → gate → dual merge, idempotent across runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("doc_ingest").toString
    val input = MemoryStream[Doc]
    def runOnce(): Unit = {
      val q = DocStream.ingestSink(input.toDF(), root, "docs",
        s"$root/ckpt", "ingest_ts", "10 minutes",
        extractedAt = "2026-01-01T00:00:00Z").start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }
    input.addData(
      Doc(1, ts("2024-01-01 00:00:00"), cleanText),
      Doc(2, ts("2024-01-01 00:01:00"), "tiny doc"),
      Doc(3, ts("2024-01-01 00:02:00"), cleanText)) // in-batch re-crawl of 1
    runOnce()
    val latest = spark.read.parquet(s"$root/master/latest/docs")
    // doc 3's text fingerprint collapsed in-stream; rejected doc 2 is
    // PERSISTED with its audit verdict, filtered by trainers
    assert(latest.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(latest.filter($"keep" === 1).select("doc_id").as[Long]
      .collect().toSeq == Seq(1L))
    // run 2: new upstream rows only — AvailableNow drains the delta
    input.addData(Doc(4, ts("2024-01-01 00:20:00"), "brand new doc content here"))
    runOnce()
    val after = spark.read.parquet(s"$root/master/latest/docs")
    assert(after.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // raw is content-hash-deduped: re-running with no new data is a no-op
    val rawBefore = spark.read.parquet(s"$root/master/raw/docs").count()
    runOnce()
    assert(spark.read.parquet(s"$root/master/raw/docs").count() == rawBefore)
  }

  test("streaming curation sink: gate + decontam removal + stable splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("doc_curate").toString
    // a second gate-passing text with a disjoint vocabulary
    val cleanText2 =
      ((1 to 10).map(i => f"v$i%02da") ++ (1 to 9).map(i => f"v$i%02dab") :+ "the")
        .mkString(" ")
    // shares every 4-gram suffix of cleanText ⇒ contaminated
    val contaminated = cleanText.split(" ").drop(1).mkString("zzz ", " ", "")
    val evalShingles = graft.text.NearDup.shinglesN(
      Seq((999L, cleanText)).toDF("doc_id", "text"), "doc_id", "text", 4)
      .select("sh")
    val input = MemoryStream[Doc]
    def runOnce(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = DocStream.curatedIngestSink(input.toDF(), evalShingles,
        root, "docs", s"$root/ckpt", "ingest_ts", "10 minutes",
        extractedAt = "2026-01-01T00:00:00Z").start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      q
    }
    input.addData(
      Doc(1, ts("2024-01-01 00:00:00"), cleanText2),
      Doc(2, ts("2024-01-01 00:01:00"), "tiny doc"), // gate reject
      Doc(3, ts("2024-01-01 00:02:00"), contaminated)) // decontam removal
    val first = runOnce()
    // the dedup state holds one fingerprint per distinct text seen: a
    // micro-batch computed twice would report its rows twice
    val stateRows = first.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten).map(_.numRowsTotal)
    assert(stateRows.nonEmpty && stateRows.max == 3,
      s"dedup state rows per batch: $stateRows, for 3 distinct docs")
    val latest = spark.read.parquet(s"$root/master/latest/docs")
    assert(latest.select("doc_id").as[Long].collect().toSet == Set(1L),
      "gate rejects and contaminated docs never reach the curated lake")
    val split1 = latest.select("split").as[String].collect().head
    // run 2: redeliver doc 1 (new ts ⇒ new content row? same text ⇒
    // same content hash after lineage strip) + one new clean doc
    input.addData(
      Doc(1, ts("2024-01-01 00:20:00"), cleanText2),
      Doc(4, ts("2024-01-01 00:21:00"),
        ((1 to 10).map(i => f"u$i%02da") ++ (1 to 9).map(i => f"u$i%02dab") :+ "a")
          .mkString(" ")))
    runOnce()
    val after = spark.read.parquet(s"$root/master/latest/docs")
    assert(after.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    assert(after.filter($"doc_id" === 1L).select("split").as[String]
      .collect().head == split1,
      "split assignment is a pure hash of doc_id — stable across runs")
    // the curated lake carries the CALLER's schema + split, not the
    // in-flight gate/dedup scratch — so it round-trips through the
    // batch compaction path (withQualityVerdict would refuse a frame
    // already carrying its reserved columns)
    assert(!after.columns.exists(Set("fp", "n_tokens", "reject_reason", "keep")),
      s"scratch columns must not reach the lake: ${after.columns.toSeq}")
    assert(graft.text.TextAnalysis.withQualityVerdict(after, "text")
      .filter($"keep" === 1).count() == 2,
      "batch re-curation accepts the streamed lake")
  }

  test("windowed corpus intake stats: arrivals, gate survivors, token volume") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    input.addData(
      Doc(1, ts("2024-01-01 00:05:00"), cleanText),
      Doc(2, ts("2024-01-01 00:10:00"), "tiny doc"),
      Doc(3, ts("2024-01-01 01:05:00"), cleanText))
    val q = DocStream.corpusStatsWindowed(input.toDF(), "ingest_ts",
      "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("doc_stats")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.sql(
      """SELECT date_format(window_start,'HH:mm') w, n_docs, n_kept, n_tokens
        |FROM doc_stats ORDER BY w""".stripMargin)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("00:00", 2L, 1L, 22L), ("01:00", 1L, 1L, 20L)))
  }

  test("streaming weighted mixing == batch mixing; re-delivery mixes identically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val weights = Map("en" -> 500, "zh" -> 2500)
    val rows = (1L to 40L).map(i =>
      (i, Seq("en", "zh", "fr")(i.toInt % 3)))
    val input = MemoryStream[(Long, String)]
    input.addData(rows: _*)
    input.addData(rows.take(10): _*) // re-delivery of the first 10
    val q = DocStream.mixedStream(
      input.toDF().toDF("doc_id", "lang"), "mixspec", weights, 1000)
      .writeStream.format("memory").queryName("doc_mix").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.sql(
      "SELECT doc_id, lang, copy_n FROM doc_mix")
      .as[(Long, String, Long)].collect().toSeq
    val batch = DocStream.mixedStream(
      rows.toDF("doc_id", "lang"), "mixspec", weights, 1000)
      .as[(Long, String, Long)].collect().toSeq
    // re-delivered docs produce exactly the same copies again —
    // stream output = batch output + one duplicate set for docs 1-10
    val redelivered = batch.filter(_._1 <= 10)
    assert(streamed.sorted == (batch ++ redelivered).sorted)
    // the mixture actually mixes: zh docs replicate, some en drop
    assert(batch.exists(r => r._2 == "zh" && r._3 == 3L))
    val enIds = rows.filter(_._2 == "en").map(_._1).toSet
    assert(batch.count(r => r._2 == "en") < enIds.size,
      "a 500-permille stratum must drop some docs")
    assert(batch.filter(_._2 == "fr").groupBy(_._1).forall(_._2.size == 1))
  }

  test("streaming simhash near-dup dedup: one survivor per signature, " +
      "row-fold signature equals the batch aggregate signature") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, ts("2024-01-01 00:00:01"), "alpha beta gamma delta"),
      (2L, ts("2024-01-01 00:00:02"), "alpha beta gamma delta"),   // exact dup of 1
      (3L, ts("2024-01-01 00:00:03"), "omega psi chi phi"),
      (4L, ts("2024-01-01 00:00:04"), "delta gamma beta alpha"))   // same SET as 1
    // batch truth: the aggregate signature per doc
    val batchSig = graft.text.NearDup.simhash16(
      docs.toDF("doc_id", "ts", "text")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.explode(graft.text.TextAnalysis.tokens(
            org.apache.spark.sql.functions.col("text"))).as("tok"))
        .distinct(), "doc_id", "tok")
      .as[(Long, Long)].collect().toMap
    assert(batchSig(1L) == batchSig(4L), "order-insensitive token-set signature")
    val expectedSurvivors = docs.map(_._1)
      .groupBy(batchSig).map(_._2.min).toSet // first arrival per signature
    val input = MemoryStream[(Long, Timestamp, String)]
    input.addData(docs: _*)
    val q = DocStream.nearDupStream(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("doc_neardup").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.sql("SELECT doc_id, simhash16 FROM doc_neardup")
      .as[(Long, Long)].collect().toSeq
    assert(kept.map(_._1).toSet == expectedSurvivors,
      s"stream kept ${kept.map(_._1).sorted}, batch truth $expectedSurvivors")
    // the streamed row-fold signature matches the batch aggregate one
    kept.foreach { case (id, sig) => assert(sig == batchSig(id),
      s"doc $id: row-fold sig $sig != batch sig ${batchSig(id)}") }
  }

  test("streaming per-source quota: lifetime cap enforced across micro-batches, " +
      "quiet sources keep headroom") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)]
      val q = DocStream.quotaStream(
        input.toDF().toDF("doc_id", "source"), cap = 3)
        .writeStream.format("memory").queryName("doc_quota")
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1: hot source "a" sends 2, "b" sends 1
        input.addData((1L, "a"), (2L, "a"), (10L, "b"))
        q.processAllAvailable()
        // batch 2: "a" sends 3 more (only 1 admitted — budget spent),
        // "b" sends 2 (both admitted — headroom persisted)
        input.addData((3L, "a"), (4L, "a"), (5L, "a"), (11L, "b"), (12L, "b"))
        q.processAllAvailable()
        // batch 3: "a" fully exhausted, nothing admitted
        input.addData((6L, "a"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.sql(
        "SELECT doc_id, source, rank_in_source FROM doc_quota ORDER BY source, rank_in_source")
        .as[(Long, String, Long)].collect().toSeq
      assert(got == Seq(
        (1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L), // doc 3 wins batch-2 id order
        (10L, "b", 1L), (11L, "b", 2L), (12L, "b", 3L)))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming heavy hitters: O(k) sketch state persists across batches, " +
      "no frequent token is ever lost") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val k = 4
      // skewed vocabulary: "hot" ~ half the stream, "warm" ~ a
      // quarter, 12 rare singletons churn the sketch
      val b1 = Seq((1L, "s", "hot hot hot warm r1 r2"),
        (2L, "s", "hot hot warm r3 r4 r5"))
      val b2 = Seq((3L, "s", "hot hot hot warm warm r6 r7"),
        (4L, "s", "hot r8 r9 r10 r11 r12"))
      val input = MemoryStream[(Long, String, String)]
      val q = DocStream.heavyHittersStream(
        input.toDF().toDF("doc_id", "source", "text"), k)
        .writeStream.format("memory").queryName("doc_hh")
        .outputMode(OutputMode.Update).start()
      val afterB1 = try {
        input.addData(b1: _*); q.processAllAvailable()
        val rows = spark.sql("SELECT tok, est FROM doc_hh")
          .as[(String, Long)].collect().toSeq
        assert(rows.size <= k, s"state must stay ≤ k: $rows")
        assert(rows.toMap.contains("hot"))
        input.addData(b2: _*); q.processAllAvailable()
        rows
      } finally q.stop()
      // memory sink accumulates Update-mode emissions; the batch-2
      // re-emission is the accumulated multiset minus batch 1's
      val fin = spark.sql("SELECT tok, est FROM doc_hh")
        .as[(String, Long)].collect().toSeq.diff(afterB1).toMap
      assert(fin.size <= k, s"state must stay ≤ k: $fin")
      val all = (b1 ++ b2).flatMap(_._3.split(" "))
      val n = all.size.toLong
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong)
      // one-sided guarantee over the WHOLE stream: anything above
      // N/(k+1) frequency must be in the final sketch, with its
      // residual within N/(k+1) of the true count
      exact.toSeq.filter(_._2 > n / (k + 1)).foreach { case (t, c) =>
        assert(fin.contains(t), s"frequent token $t lost: $fin")
        assert(c - fin(t) <= n / (k + 1), s"estimate for $t too low: ${fin(t)} vs $c")
      }
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming sequence packing: running totals persist across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // doc i has i tokens; shards = doc_id % 2; budget 5 tokens
      def doc(i: Long) = (i, (1L to i).map(j => s"t$j").mkString(" "))
      val input = MemoryStream[(Long, String)]
      val q = DocStream.packedStream(
        input.toDF().toDF("doc_id", "text"), budget = 5, shards = 2)
        .writeStream.format("memory").queryName("doc_pack")
        .outputMode(OutputMode.Update).start()
      try {
        input.addData(doc(1), doc(2), doc(3), doc(4))
        q.processAllAvailable()
        input.addData(doc(5), doc(6))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.sql(
        "SELECT doc_id, shard, n_tokens, start_off, seq_id FROM doc_pack ORDER BY doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      // shard 1 stream: doc1(1)+doc3(3) in batch 1, doc5(5) in batch 2
      // shard 0 stream: doc2(2)+doc4(4) in batch 1, doc6(6) in batch 2
      assert(got == Seq(
        (1L, 1L, 1L, 0L, 0L),   // shard 1 offset 0
        (2L, 0L, 2L, 0L, 0L),   // shard 0 offset 0
        (3L, 1L, 3L, 1L, 0L),
        (4L, 0L, 4L, 2L, 0L),
        (5L, 1L, 5L, 4L, 0L),   // batch 2 continues shard 1 at 4
        (6L, 0L, 6L, 6L, 1L)))  // batch 2 continues shard 0 at 6 → window 1
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming semantic gate: flags by eval cosine, emits once per vec, matches the batch tree") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    implicit val sqlCtx = spark.sqlContext
    // eval set: two orthogonal axes; stream: a near-copy of eval 0
    // (flagged), an orthogonal vector (clean), a diagonal at cos≈0.71
    // (above the 0.5 gate), and a REDELIVERY of the first
    val e0 = Array.tabulate(8)(i => if (i == 0) 1f else 0f)
    val e1 = Array.tabulate(8)(i => if (i == 1) 1f else 0f)
    val evalIds = Array(0L, 1L)
    val evalVecs = Array(e0, e1).map(_.map(_.toDouble))
    val near = e0.clone(); near(7) = 0.01f
    val ortho = Array.tabulate(8)(i => if (i == 7) 1f else 0f)
    val diag = Array.tabulate(8)(i => if (i <= 1) 1f else 0f)
    val input = MemoryStream[(Long, Timestamp, Array[Float])]
    val vecs = input.toDF().toDF("vec_id", "ingest_ts", "embedding")
    val q = DocStream.semContaminatedStream(vecs, evalIds, evalVecs, 0.5,
      "ingest_ts", "10 minutes")
      .writeStream.format("memory").queryName("sem_contam")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (10L, ts("2024-01-01 00:00:00"), near),
        (11L, ts("2024-01-01 00:01:00"), ortho),
        (12L, ts("2024-01-01 00:02:00"), diag),
        (10L, ts("2024-01-01 00:03:00"), near)) // redelivery
      q.processAllAvailable()
      val got = spark.sql("SELECT vec_id, max_cs FROM sem_contam ORDER BY vec_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == Seq(10L, 12L),
        s"near-copy + diagonal flagged once each, orthogonal clean; got $got")
      // parity: the streaming scores ARE the batch expression's scores
      val batch = Seq((10L, near), (11L, ortho), (12L, diag))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          graft.functions.CentroidScores(col("embedding"), evalIds, evalVecs).as("_s"))
        .select(col("vec_id"), expr("array_max(transform(_s, x -> x.cs))").as("max_cs"))
        .filter(col("max_cs") >= 0.5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
      assert(got == batch, s"stream/batch divergence: $got vs $batch")
    } finally q.stop()
  }
}
