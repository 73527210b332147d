package graft

import org.apache.spark.sql.functions._

/** Lifecycle-at-scale artifact (VERDICT r14 item 6): RunPipeline's
  * E1/E2 composition is replay-spec'd at fixture size (300 contacts);
  * this main executes it against a 10×-scale lake and MEASURES the
  * two scaling claims the specs only assert structurally:
  *
  *  A. `runFull` twice (initial load, then a 5% incremental) on an
  *     sf1 star schema — wall time + per-stage persisted counts from
  *     the StageLedger-backed report. The incremental run's persisted
  *     row counts must be O(delta), not O(lake).
  *
  *  B. the PARTITION-SCOPED dual merge (`runStreamingOnce`, bucketed
  *     contacts): grow the source 5%, re-run, then verify from the
  *     raw dir's file inventory that (1) every pre-existing file
  *     outside the delta's buckets is BYTE-IDENTICAL (same path, same
  *     length, same checksum — untouched on disk, the O(delta) swap),
  *     and (2) merge input rows (prior rows in affected buckets +
  *     delta rows) stay within a constant factor of the delta — the
  *     assertion VERDICT r14 asked for, failed loudly here.
  *
  * Usage: runMain graft.PipelineBench [sfDir] [baseRows] [outJson]
  *
  * Output: one JSON line (graft.Bench contract), also written to
  * `outJson` (default target/pipeline_bench_last.json). Each runFull
  * reports its stages' own persist seconds: the stages run
  * concurrently, so wall time is not their sum.
  */
object PipelineBench {

  private def md5(p: java.nio.file.Path): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(java.nio.file.Files.readAllBytes(p))
      .map("%02x".format(_)).mkString
  }

  implicit private class IterOps[A](val it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("tools/sf1")
    // args(1): contact-universe base (default 12000, the sf1 scale);
    // the incremental delta is always 5% of it — pass 120000 with
    // tools/sf10 for the decade leg of the lifecycle evidence
    val baseRows = args.lift(1).flatMap(_.toIntOption).getOrElse(12000)
    val outJson = args.lift(2).getOrElse("target/pipeline_bench_last.json")
    val deltaRows = baseRows / 20
    // part B's id buckets: 64 ids, or the delta's size when that is
    // smaller — the merge re-reads the touched buckets' prior rows, so
    // a span wider than the delta would alone outgrow the 4x bound
    val bucketSpan = math.max(1, math.min(64, deltaRows)).toLong
    val spark = Sessions.local("graft-pipelinebench")
    spark.sparkContext.setLogLevel("WARN")

    val results = scala.collection.mutable.LinkedHashMap[String, Any]()

    // ── A. batch lifecycle at sfDir scale ──
    graft.sources.FixtureBackend.reset()
    val root = java.nio.file.Files.createTempDirectory("graft_pipebench").toString
    val seeds = Seq("row#3@x.test", "row#7@x.test")
    val t1 = System.nanoTime()
    val r1 = graft.pipeline.RunPipeline.runFull(spark, root, sfDir,
      totalRows = baseRows, seedEmails = seeds, nowUtc = "2026-08-01T00:00:00Z")
    val sec1 = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val r2 = graft.pipeline.RunPipeline.runFull(spark, root, sfDir,
      totalRows = baseRows + deltaRows, seedEmails = seeds,
      nowUtc = "2026-08-02T00:00:00Z")
    val sec2 = (System.nanoTime() - t2) / 1e9
    val delta2 = r2.persisted("contacts")._1
    results += "runfull" -> Map(
      "sf_dir" -> sfDir,
      "base_rows" -> baseRows,
      "initial_contacts" -> r1.persisted("contacts")._1,
      "initial_wall_sec" -> sec1,
      "incr_contacts_delta" -> delta2,
      "incr_wall_sec" -> sec2,
      "incr_universe" -> r2.universeSize,
      "stage_rows_initial" -> r1.persisted.map { case (k, v) => k -> v._1 },
      "stage_rows_incr" -> r2.persisted.map { case (k, v) => k -> v._1 },
      "stage_sec_initial" -> r1.stageSeconds,
      "stage_sec_incr" -> r2.stageSeconds)
    // the incremental universe is seeds + the 600 new ids — O(delta)
    require(r2.universeSize <= delta2 + seeds.size + 8,
      s"incremental universe ${r2.universeSize} is not O(delta=$delta2)")

    // ── B. partition-scoped merge: untouched partitions byte-identical ──
    graft.sources.FixtureBackend.reset()
    val sroot = java.nio.file.Files.createTempDirectory("graft_scoped").toString
    val rawDir = s"$sroot/master/raw/contacts"
    def files(): Map[String, (Long, String)] = {
      val base = java.nio.file.Paths.get(rawDir)
      if (!java.nio.file.Files.exists(base)) Map.empty
      else {
        val st = java.nio.file.Files.walk(base)
        try st.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(p => base.relativize(p).toString ->
            (java.nio.file.Files.size(p), md5(p)))
          .toMap
        finally st.close()
      }
    }
    graft.pipeline.RunPipeline.runStreamingOnce(spark, sroot,
      Map("totalrows" -> baseRows.toString, "pagelimit" -> "500"),
      "2026-08-01T00:00:00Z", bucketSpan)
    val inv1 = files()
    val preBuckets = spark.read.parquet(rawDir)
      .groupBy("bucket").count()
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val t3 = System.nanoTime()
    graft.pipeline.RunPipeline.runStreamingOnce(spark, sroot,
      Map("totalrows" -> (baseRows + deltaRows).toString,
        "pagelimit" -> "500"),
      "2026-08-02T00:00:00Z", bucketSpan)
    val sec3 = (System.nanoTime() - t3) / 1e9
    val inv2 = files()
    // deltaRows new ids arrive via keyset resume
    val changed = inv2.keySet.filter(k => !inv1.get(k).contains(inv2(k)))
    val removed = inv1.keySet -- inv2.keySet
    val untouched = inv1.keySet.intersect(inv2.keySet)
      .count(k => inv1(k) == inv2(k))
    // bucket dirs the merge rewrote (relative path starts bucket=N/)
    val touchedBuckets = (changed ++ removed)
      .flatMap(_.split('/').find(_.startsWith("bucket=")))
      .map(_.stripPrefix("bucket=").toLong)
    val mergeInputRows =
      touchedBuckets.toSeq.map(b => preBuckets.getOrElse(b, 0L)).sum + deltaRows
    // THE assertion (VERDICT r14 item 6): merge input is O(delta) —
    // the prior rows re-read are only the delta's own tail buckets
    // (≤ bucketSpan rows each), never the lake.
    require(mergeInputRows <= 4 * deltaRows,
      s"scoped merge read $mergeInputRows rows for a $deltaRows-row delta")
    require(untouched > 0 && untouched >= inv1.size - 8,
      s"scoped merge rewrote ${inv1.size - untouched} of ${inv1.size} " +
        "pre-existing files — the swap is not partition-scoped")

    results += "scoped_merge" -> Map(
      "lake_rows_before" -> preBuckets.values.sum,
      "delta_rows" -> deltaRows,
      "bucket_span" -> bucketSpan,
      "incr_wall_sec" -> sec3,
      "merge_input_rows" -> mergeInputRows,
      "merge_input_over_delta" -> mergeInputRows.toDouble / deltaRows,
      "files_before" -> inv1.size,
      "files_untouched_byte_identical" -> untouched,
      "buckets_touched" -> touchedBuckets.size,
      "lake_rows_after" -> spark.read.parquet(rawDir).count())

    def js(v: Any): String = v match {
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => s""""$k": ${js(x)}""" }.mkString("{", ", ", "}")
      case l: Seq[_] => l.map(js).mkString("[", ", ", "]")
      case d: Double => f"$d%.3f"
      case s: String => s""""$s""""
      case other => other.toString
    }
    val line = js(Map("metric" -> "pipeline_bench", "unit" -> "sec") ++ results)
    println(line)
    val out = java.nio.file.Paths.get(outJson)
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    spark.stop()
  }
}
