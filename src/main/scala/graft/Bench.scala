package graft

/** Per-round benchmark main: times every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver
  * (BENCH_r{N}.json). Uses the shared Sessions.local config (AQE,
  * UTC) — the same session the correctness gate runs under, so a
  * bench timing is always a timing of the *correct* plan. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Sessions.guardHeapForLake(sfDir)
    val spark = Sessions.local("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // Warm up codegen/JIT/parquet-footer paths so the alphabetically
    // first query doesn't absorb ~4s of one-time session cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
      .foreach(n => spark.read.parquet(s"$sfDir/$n.parquet").limit(1).count())
    // Min-of-N sweeps (SPARK_GRAFT_BENCH_RUNS, default 2): ambient
    // load on a shared machine inflates timings one-sidedly, so the
    // per-query MIN over full sweeps is the low-noise estimator —
    // rounds 6 and 7 both burned a grading cycle on loaded-machine
    // numbers that a second sweep would have separated mechanically.
    // Whole sweeps (not per-query repeats) so each query keeps the
    // same cold cache state the single-run bench measured.
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
    // SPARK_GRAFT_BENCH_ONLY (comma-separated names): targeted re-runs
    // for budget-breach adjudication — BENCH_PROTOCOL.md rule 3 needs a
    // cheap idle-machine re-measure of ONE suspect query, not a 25-min
    // full sweep. The full-sweep driver path never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // A typo'd name must fail loudly: a silent empty (or partial) run
    // would emit total≈0 and read as a flattering sweep.
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(s"[bench] ERROR unknown query name(s) in " +
          s"SPARK_GRAFT_BENCH_ONLY: ${unknown.toSeq.sorted.mkString(", ")}")
        sys.exit(2)
      }
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
    val sweeps: Seq[Seq[(String, Double, Boolean)]] = (1 to nRuns).map { run =>
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // measured window ends when the action returns — the
        // snapshot release in withCacheRelease's finally is session
        // hygiene, not query work, and charging it to the query would
        // bias exactly the snapshot-heavy operators the budgets
        // (calibrated pre-release-path) watch most closely
        var tEnd = 0L
        val ok =
          try {
            // Force FULL evaluation of every output column: a bare
            // .count() lets Catalyst collapse count-over-projection so
            // casts/string-builds/regexes never run. Hashing all columns
            // into one agg keeps the whole plan (and its exchanges) live
            // while still returning a single row to the driver.
            // QDef.withCacheRelease (the one execution path all harness
            // mains share) frees the snapshots a query took, so later
            // queries are timed from the same cold state as earlier
            // ones — leaked blocks were inflating whichever queries
            // ran next.
            graft.queries.QDef.withCacheRelease(spark, fn(spark, sfDir)) { out =>
              out.select(org.apache.spark.sql.functions.xxhash64(
                  out.columns.map(org.apache.spark.sql.functions.col): _*).as("h"))
                .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).collect()
              tEnd = System.nanoTime()
            }
            true
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED (run $run): ${e.getMessage}")
            false
          }
        if (tEnd == 0L) tEnd = System.nanoTime()
        (name, (tEnd - t0) / 1e9, ok)
      }
    }
    // a query that failed every sweep is FAILED and reports NO timing
    // at all (a time-to-exception number masquerading as a result is
    // how round 8's 61 broken queries benched at a flattering ~0.05 s);
    // one that succeeded at least once reports the min over its
    // SUCCESSFUL attempts
    val byName = sweeps.flatten.groupBy(_._1)
    val failed = ordered.map(_._1).filter(n => byName(n).forall(!_._3))
    val results = ordered.flatMap { case (name, _) =>
      val good = byName(name).filter(_._3)
      if (good.isEmpty) None else Some(name -> good.map(_._2).min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val runTotals = sweeps.map(_.map(_._2).sum)
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} FAILED: ${failed.sorted.mkString(", ")}")
    // Per-query budgets (tools/bench_budgets.txt: "name seconds",
    // 2× an idle-machine baseline): queries past budget are listed
    // with their ratio so load noise (everything uniformly inflated)
    // and real regressions (specific queries blown) separate
    // mechanically instead of by per-round archaeology.
    // Per-line parse tolerance: one malformed line must cost ONE
    // budget (warned), never silently collapse the whole gate to
    // "nothing exceeded" — same for a missing file (warned).
    val budgetPath = java.nio.file.Paths.get("tools/bench_budgets.txt")
    val budgets: Map[String, Double] =
      if (!java.nio.file.Files.isRegularFile(budgetPath)) {
        System.err.println(s"[bench] WARN no $budgetPath — budget gate OFF")
        Map.empty
      } else java.nio.file.Files.readAllLines(budgetPath)
        .toArray(Array.empty[String]).toSeq
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          l.split("\\s+") match {
            case Array(n, b) => b.toDoubleOption.map(n -> _).orElse {
              System.err.println(s"[bench] WARN bad budget line dropped: $l"); None
            }
            case _ =>
              System.err.println(s"[bench] WARN bad budget line dropped: $l"); None
          }
        }.toMap
    val exceeded = results
      .flatMap { case (k, v) =>
        budgets.get(k).filter(v > _).map(b => (k, v / b)) }
      .sortBy(-_._2)
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma decimal separator would emit malformed JSON ("1,234")
    def fmt(r: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(r))
    if (exceeded.nonEmpty)
      System.err.println(s"[bench] ${exceeded.size} over budget: " +
        exceeded.map { case (k, r) => s"$k ${fmt(r, 2)}x" }.mkString(", "))
    val exceededJson = exceeded
      .map { case (k, r) => "\"" + k + "\":" + fmt(r, 3) }.mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // A filtered run stamps its filter into the JSON so a subset total
    // can never be mistaken for a full sweep downstream.
    val onlyJson = only.fold("")(names =>
      s""","only":${names.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}""")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$failedJson,""" +
        s""""budget_exceeded":$exceededJson,"budget_n":${budgets.size},""" +
        s""""runs":${runTotals.mkString("[", ",", "]")}$onlyJson,"sf":"$sfDir"}"""
    println(line)
    // Also persist the line so the driver can recover it even if
    // stdout is truncated (BENCH_r01.json lost its head that way).
    // Filtered runs do NOT overwrite bench_last.json: the file is the
    // full-sweep record the protocol artifacts copy from, and a
    // subset-only total there is indistinguishable from a real sweep.
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_last.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write bench_last.json: ${e.getMessage}") }
    else
      System.err.println("[bench] filtered run — bench_last.json NOT updated")
    spark.stop()
  }
}
