package graft.pipeline

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTesting
import graft.sources.FixtureBackend

/** E1 end-to-end: watermark-driven incremental runs over the DSv2
  * paged source, composed with the E2 merge. */
class RunPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark

  test("incremental lifecycle: first run, idempotent re-run, upstream growth") {
    val root = Files.createTempDirectory("pipeline").toString
    FixtureBackend.reset()

    // run 1: everything is new
    val (s1, raw1, latest1) = RunPipeline.runOnce(spark, root, 300,
      runUtc = "2026-01-01T00:00:00Z")
    assert((s1, raw1, latest1) == ((300L, 300L, 300L)))

    // run 2, no new upstream rows: slice empty, lake unchanged
    val (s2, raw2, latest2) = RunPipeline.runOnce(spark, root, 300,
      runUtc = "2026-01-02T00:00:00Z")
    assert((s2, raw2, latest2) == ((0L, 300L, 300L)))

    // upstream grows: only the delta is scanned and merged
    val (s3, raw3, latest3) = RunPipeline.runOnce(spark, root, 400,
      runUtc = "2026-01-03T00:00:00Z")
    assert((s3, raw3, latest3) == ((100L, 400L, 400L)))

    // watermark survived all three runs on disk
    assert(Watermark.load(s"$root/state.json").maxId == 399L)

    // every run kept its own delta dir: runs 2 and 3 both started at
    // watermark 299, so a watermark-only run id would have collided
    // and run 3 would have overwritten run 2's (empty) delta
    val deltaDirs = new java.io.File(s"$root/runs").listFiles()
      .map(_.getName).sorted.toSeq
    assert(deltaDirs.size == 3, s"one preserved delta dir per run: $deltaDirs")
  }

  test("full E1 lifecycle: seed → universe → stages → mart/digest → advance, idempotent") {
    val root = Files.createTempDirectory("pipeline_full").toString
    FixtureBackend.reset()
    val sf = SparkTesting.sf
    val seeds = Seq("row#3@x.test", "row#7@x.test", "nobody@x.test")

    // ── run 1: everything new ──
    val r1 = RunPipeline.runFull(spark, root, sf, totalRows = 300,
      seedEmails = seeds, nowUtc = "2026-01-01T00:00:00Z")
    assert(r1.resolvedSeeds == 2, "2 of 3 seed emails resolve to contacts")
    assert(r1.universeSize == 300, "seeds are a subset of the full first slice")
    assert(r1.watermarkBefore == -1 && r1.watermarkAfter == 299)
    assert(r1.persisted("contacts") == ((300L, 300L)))
    assert(r1.persisted.keySet ==
      Set("contacts", "activities", "orders", "orders_enriched",
        "deal_notes", "deal_tasks", "deal_activities",
        "activity_click", "activity_view", "activity_signup",
        "activity_purchase", "activity_error",
        "contact_tags", "contact_scores", "dim_nation", "dim_region"),
      "the 16-stage per-endpoint breadth of the reference lifecycle")
    r1.persisted.values.foreach { case (raw, latest) =>
      assert(raw > 0 && latest > 0) }
    // the per-endpoint splits partition the combined activities stage
    assert(Seq("click", "view", "signup", "purchase", "error")
      .map(t => r1.persisted(s"activity_$t")._1).sum ==
      r1.persisted("activities")._1)
    // tag sets: sorted, comma-joined, one row per active contact
    val tags = spark.read.parquet(s"$root/master/latest/contact_tags")
    assert(tags.count() == r1.persisted("contact_tags")._2)
    val firstTags = tags.select("tags").head().getString(0).split(",")
    assert(firstTags.sameElements(firstTags.sorted), "tag sets are sorted")
    // scores: exactly one latest score per contact
    val scores = spark.read.parquet(s"$root/master/latest/contact_scores")
    assert(scores.select("contact_id").distinct().count() == scores.count())
    assert(r1.martRows > 0 && r1.digests > 0)
    // the enriched stage actually carries the dim column
    assert(spark.read.parquet(s"$root/master/latest/orders_enriched")
      .columns.contains("nation_name"))
    // deal-bundle children: every row stamped with BOTH parent FKs,
    // and each child's deals are a subset of the persisted parents
    val notes = spark.read.parquet(s"$root/master/latest/deal_notes")
    assert(notes.columns.contains("deal_id") && notes.columns.contains("contact_id"))
    assert(notes.filter(org.apache.spark.sql.functions.col("deal_id").isNull ||
      org.apache.spark.sql.functions.col("contact_id").isNull).count() == 0)
    val parents = spark.read.parquet(s"$root/master/latest/orders")
      .select(org.apache.spark.sql.functions.col("o_orderkey").cast("string"))
    assert(notes.select("deal_id").distinct()
      .join(parents, notes("deal_id") === parents("o_orderkey"), "left_anti")
      .count() == 0, "every child deal_id must have a persisted parent order")
    // S9: one TXT per digested contact
    val txts = new java.io.File(s"$root/master/mart/contact_digest_txt")
      .listFiles().count(_.getName.endsWith(".txt"))
    assert(txts.toLong == r1.digests)
    // dim cache was populated
    assert(DimCache.loadMeta(s"$root/dims", "nation").nonEmpty)

    // ── run 2, unchanged upstream: idempotent on every raw ──
    val r2 = RunPipeline.runFull(spark, root, sf, totalRows = 300,
      seedEmails = seeds, nowUtc = "2026-01-02T00:00:00Z")
    assert(r2.universeSize == 2, "only the re-sent seeds are in the universe")
    assert(r2.persisted == r1.persisted,
      "re-running with unchanged upstream must leave every lake unchanged")
    assert(r2.watermarkAfter == 299)

    // ── run 3, upstream grew: only the delta is merged ──
    val r3 = RunPipeline.runFull(spark, root, sf, totalRows = 320,
      seedEmails = seeds, nowUtc = "2026-01-03T00:00:00Z")
    assert(r3.universeSize == 22, "2 seeds + 20 new contacts")
    assert(r3.persisted("contacts") == ((320L, 320L)))
    assert(r3.watermarkAfter == 319)
    // distinct run ids → every run's contacts delta dir survives
    assert(Set(r1.runId, r2.runId, r3.runId).size == 3)
  }

  test("catalog-driven extract stages: dims + PathId/QueryId fan-outs " +
      "run through the full lifecycle against the loopback API") {
    val root = Files.createTempDirectory("pipeline_ac").toString
    FixtureBackend.reset()
    val sf = SparkTesting.sf
    val (server, apiBase, seen) = graft.sources.StubApi.startAc()
    try {
      // a 10-contact collection → the fan-out drives exactly 10
      // per-entity walks per endpoint, and run 2's slice (and thus
      // its fan-out universe) is genuinely empty
      val r1 = RunPipeline.runFull(spark, root, sf, totalRows = 10,
        nowUtc = "2026-01-01T00:00:00Z", acApiBase = Some(apiBase))

      // QueryId fan-out (email_activities): 5 rows per driven contact
      assert(r1.persisted("email_activities") == ((50L, 50L)))
      // PathId fan-out (contact_notes): 2 rows per driven contact
      assert(r1.persisted("contact_notes") == ((20L, 20L)))
      // the populated dim came through the TTL cache + persist merge
      assert(r1.persisted("dim_campaigns") == ((3L, 3L)))
      // dims the account lacks (404) cache EMPTY and produce no stage
      assert(!r1.persisted.contains("dim_tags"))
      assert(DimCache.loadMeta(s"$root/dims", "tags").nonEmpty,
        "an absent dim is still TTL-cached (as empty) — no refetch storm")
      assert(spark.read.parquet(s"$root/dims/tags").isEmpty)

      // the driving id is stamped on every fan-out row, and the rows
      // carry the endpoint's OWN columns (dynamic schema end-to-end)
      val notes = spark.read.parquet(s"$root/master/latest/contact_notes")
      assert(notes.columns.toSet.intersect(
        Set("driving_id", "relid", "reltype", "note", "mdate")).size == 5)
      assert(notes.filter(org.apache.spark.sql.functions.col("driving_id")
        .isNull).count() == 0)
      val acts = spark.read.parquet(s"$root/master/latest/email_activities")
      assert(acts.select("driving_id").distinct().count() == 10)
      assert(acts.columns.contains("reference_action"))

      // the binding reached the wire: a query param for QueryId, a
      // path segment for PathId
      val wires = seen.toArray.map(_.toString)
      assert(wires.exists(_.contains("filters%5Bsubscriberid%5D=3")),
        s"QueryId binding must travel as a query param: ${wires.take(5).mkString(", ")}")
      assert(wires.exists(_.startsWith("/api/3/contacts/3/notes")),
        "PathId binding must travel as a path segment")

      // idempotent re-run: empty slice → empty fan-out universe →
      // every lake unchanged; TTL-fresh dims don't refetch
      val before = seen.size
      val r2 = RunPipeline.runFull(spark, root, sf, totalRows = 10,
        nowUtc = "2026-01-02T00:00:00Z", acApiBase = Some(apiBase))
      assert(r2.persisted("email_activities") == ((50L, 50L)))
      assert(r2.persisted("contact_notes") == ((20L, 20L)))
      assert(r2.persisted("dim_campaigns") == ((3L, 3L)))
      val dimHits = seen.toArray.map(_.toString).drop(before)
        .count(q => graft.sources.AcEndpoints.dims.exists(d =>
          q.startsWith("/api/3" + d.path + "?")))
      assert(dimHits == 0, "TTL-fresh dims must not refetch")
    } finally server.stop(0)
  }

  test("per-endpoint resume: a run killed mid-catalog resumes under the same " +
      "runId without re-fetching completed endpoints (CONTRIBUTING.md:8)") {
    val root = Files.createTempDirectory("pipeline_resume").toString
    FixtureBackend.reset()
    val sf = SparkTesting.sf
    val (server, apiBase, seen) = graft.sources.StubApi.startAc()
    try {
      // kill the lifecycle immediately after the email_activities
      // fan-out persists — contact_notes and every star-schema stage
      // are still undone
      val boom = intercept[RuntimeException] {
        RunPipeline.runFull(spark, root, sf, totalRows = 10,
          nowUtc = "2026-03-01T00:00:00Z", acApiBase = Some(apiBase),
          stageHook = t =>
            if (t == "email_activities") throw new RuntimeException(s"kill:$t"))
      }
      assert(boom.getMessage == "kill:email_activities")
      // the interrupted run left its ledger and never advanced the
      // watermark
      assert(new java.io.File(StageLedger.path(root)).exists())
      assert(Watermark.load(s"$root/state.json").maxId == -1L)
      val fetchesBeforeResume = seen.toArray.map(_.toString)
      assert(fetchesBeforeResume.exists(_.startsWith("/api/3/emailActivities")),
        "the killed run must actually have extracted email_activities")

      // resume: SAME nowUtc → same runId → ledgered stages skip
      val mark = seen.size
      val r = RunPipeline.runFull(spark, root, sf, totalRows = 10,
        nowUtc = "2026-03-01T00:00:00Z", acApiBase = Some(apiBase))
      val resumeFetches = seen.toArray.map(_.toString).drop(mark)
      assert(!resumeFetches.exists(_.startsWith("/api/3/emailActivities")),
        s"resume must not re-fetch the completed endpoint: " +
          resumeFetches.filter(_.startsWith("/api/3/emailActivities")).take(3).mkString(", "))
      assert(resumeFetches.exists(_.matches("/api/3/contacts/\\d+/notes.*")),
        "the UNfinished endpoint must still extract on resume")

      // the resumed run's report carries the ledgered counts and the
      // full catalog — indistinguishable from an uninterrupted run
      assert(r.persisted("email_activities") == ((50L, 50L)))
      assert(r.persisted("contact_notes") == ((20L, 20L)))
      assert(r.persisted("contacts")._1 == 10L)
      assert(r.watermarkAfter == 9L)
      // completion cleared the ledger; latest lakes are whole
      assert(!new java.io.File(StageLedger.path(root)).exists(),
        "a completed run must clear its resume ledger")
      assert(spark.read.parquet(s"$root/master/latest/email_activities")
        .select("driving_id").distinct().count() == 10)

      // a FOREIGN-runId retry (different stamp) ignores the ledger
      // path entirely and still converges (content-hash dedup)
      val r3 = RunPipeline.runFull(spark, root, sf, totalRows = 10,
        nowUtc = "2026-03-02T00:00:00Z", acApiBase = Some(apiBase))
      assert(r3.persisted("contact_notes") == ((20L, 20L)))
    } finally server.stop(0)
  }

  private val concurrentNow = "2026-04-01T00:00:00Z"

  private def poolThreads() = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(RunPipeline.PoolThreadPrefix))
  }

  /** Every master/latest table as sorted row strings. */
  private def latestTables(root: String): Map[String, Seq[String]] =
    new java.io.File(s"$root/master/latest").listFiles().filter(_.isDirectory)
      .map(d => d.getName ->
        spark.read.parquet(d.getPath).collect().map(_.toString).sorted.toSeq)
      .toMap

  /** An uninterrupted run on a fresh root whose hook records every
    * call, the thread it ran on, and the most calls ever in flight. */
  private lazy val uninterrupted = {
    val root = Files.createTempDirectory("pipeline_concurrent").toString
    FixtureBackend.reset()
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val inFlight = new java.util.concurrent.atomic.AtomicInteger()
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger()
    val report = RunPipeline.runFull(spark, root, SparkTesting.sf, totalRows = 300,
      nowUtc = concurrentNow, stageHook = t => {
        maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
        calls.add(t -> Thread.currentThread.getName)
        Thread.sleep(20) // widens the window an overlapping call would hit
        inFlight.decrementAndGet()
      })
    import scala.jdk.CollectionConverters._
    (root, report, calls.asScala.toList, maxInFlight.get)
  }

  test("concurrent stages: the hook runs once per stage, one call at a time, " +
      "and no pool thread outlives runFull") {
    val (_, report, calls, maxInFlight) = uninterrupted
    assert(calls.map(_._1).sorted == report.persisted.keys.toSeq.sorted,
      "one hook call per persisted stage")
    assert(maxInFlight == 1, "the hook must never run on two threads at once")
    assert(calls.forall(_._2.startsWith(RunPipeline.PoolThreadPrefix)),
      s"the star stages run on the pool: ${calls.map(_._2).distinct}")
    assert(report.stageSeconds.keySet == report.persisted.keySet)
    assert(report.stageSeconds.values.forall(_ > 0))
    assert(poolThreads().isEmpty, s"pool threads alive after return: ${poolThreads()}")
  }

  test("concurrent stages: a failing hook rethrows after the started stages finish, " +
      "and the retry equals an uninterrupted run") {
    val (refRoot, ref, _, _) = uninterrupted
    val root = Files.createTempDirectory("pipeline_concurrent_fail").toString
    FixtureBackend.reset()
    val hooked = scala.collection.mutable.ArrayBuffer.empty[String]
    val boom = intercept[RuntimeException] {
      RunPipeline.runFull(spark, root, SparkTesting.sf, totalRows = 300,
        nowUtc = concurrentNow, stageHook = t => {
          hooked += t
          if (t == "orders") throw new RuntimeException(s"kill:$t")
        })
    }
    assert(boom.getMessage == "kill:orders")
    assert(poolThreads().isEmpty, s"pool threads alive after throw: ${poolThreads()}")
    // every stage that finished is ledgered (the hook runs after the
    // ledger write), and the run never advanced the watermark
    assert(StageLedger.load(root, ref.runId).keySet == hooked.toSet)
    assert(Watermark.load(s"$root/state.json").maxId == -1L)

    // retry under the same nowUtc → same runId → ledgered stages skip
    FixtureBackend.reset()
    val r = RunPipeline.runFull(spark, root, SparkTesting.sf, totalRows = 300,
      nowUtc = concurrentNow)
    assert(r.runId == ref.runId)
    assert(r.persisted == ref.persisted)
    assert(r.stageSeconds.keySet == ref.persisted.keySet -- hooked,
      "only the stages the failed run did not finish persist on retry")
    assert((r.martRows, r.digests) == ((ref.martRows, ref.digests)))
    assert(!new java.io.File(StageLedger.path(root)).exists())
    assert(latestTables(root) == latestTables(refRoot),
      "master/latest must equal an uninterrupted run's, row for row")
  }
}
