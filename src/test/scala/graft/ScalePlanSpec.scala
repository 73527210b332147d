package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the scale claims in README "Design for
  * 100 TB" — these hold at any data size because they are properties
  * of the physical plan, not of the data. */
class ScalePlanSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("bucketed co-located join: no shuffle exchange on either side") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    val o = graft.pipeline.Tables.t(spark, SparkTesting.sf, "orders")
    val l = graft.pipeline.Tables.t(spark, SparkTesting.sf, "lineitem")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    try {
      // disable broadcast so the join would otherwise need a shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_orders")
        .join(spark.table("b_lineitem"), $"o_orderkey" === $"l_orderkey")
        .groupBy("o_orderkey").agg(sum("l_quantity"))
      val plan = executedPlan(j)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("column pruning: a 2-column projection reads a 2-column schema") {
    val df = graft.pipeline.Tables.t(spark, SparkTesting.sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val plan = executedPlan(df)
    val readSchema = "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"
    assert(plan.contains(readSchema),
      s"expected pruned $readSchema in:\n${plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")}")
  }

  test("predicate pushdown: watermark filter reaches the parquet scan") {
    val df = graft.pipeline.Tables.t(spark, SparkTesting.sf, "orders")
      .filter(col("o_orderkey") > 1000L).select("o_orderkey")
    val plan = executedPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,1000)]"),
      s"expected pushed filter in:\n${plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
  }

  test("flagship mart: dims broadcast, exactly two wide stages post-union") {
    val cm = graft.pipeline.ChatterMaster.chatterMaster(spark, SparkTesting.sf)
    val plan = executedPlan(cm)
    // every dim join is a broadcast hash join
    assert(plan.contains("BroadcastHashJoin"))
    // wide stages in the FINAL adaptive plan (the AQE toString appends
    // the initial plan after a marker — don't double count). The FACT
    // stream must cross exactly two exchanges: the per-contact top-N
    // window (hash on contact_id) and the final sort (range on
    // contact_id). Dim-side exchanges (the mapLookup dedup's `_mk`
    // hash, one per id→name pair) are dim-sized broadcast-build
    // inputs — allowed, because they don't move fact data.
    val finalPlan = SparkTesting.finalSection(plan)
    val factShuffles = finalPlan.linesIterator.count(l =>
      (l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning")) && l.contains("contact_id"))
    assert(factShuffles <= 2,
      s"expected <=2 fact-side shuffle exchanges, got $factShuffles:\n$finalPlan")
    val dimShuffles = finalPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("_mk"))
    val allShuffles = finalPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
    assert(allShuffles <= factShuffles + dimShuffles,
      s"unexpected non-fact non-dim exchange in:\n$finalPlan")
    // the top-N window applies its limit map-side before the shuffle
    assert(plan.contains("WindowGroupLimit"))
  }

  test("13-way conform: one multiplexed scan per source, not one per branch") {
    val df = SparkEntry.queries("q_union_conformed_13")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    val finalPlan = SparkTesting.finalSection(plan)
    def scans(tbl: String) = finalPlan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains(s"$tbl.parquet"))
    // five event-type branches → ONE CASE-multiplexed events pass
    assert(scans("events") == 1, s"expected 1 events scan:\n$finalPlan")
    // three order-status branches → ONE multiplexed pass, plus the
    // separate 2-column scan feeding the lineitem contact resolve
    assert(scans("orders") == 2, s"expected 2 orders scans:\n$finalPlan")
    assert(scans("lineitem") == 1, s"expected 1 lineitem scan:\n$finalPlan")
  }

  test("embedding ANN dedup: celled equi-join, no cartesian product") {
    val df = SparkEntry.queries("q_dedup_embed_ann")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"ANN dedup must not expand all-pairs:\n$plan")
    // candidate generation is an equi-join on the cell key
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"expected a hash/merge equi-join:\n$plan")
  }

  test("exact embed dedup: bounded broadcast build, and NO registered query plans a cartesian") {
    // the exactness reference expands all pairs of a declared sample —
    // the bound is structural: the sample side is a broadcast build
    // (zero shuffles, fails fast at the broadcast cap if the sample
    // isn't actually bounded), never a shuffled CartesianProduct
    val df = SparkEntry.queries("q_dedup_embed_cosine")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast build for the bounded sample:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the declared 1-in-5 sample bound reaches both parquet scans
    assert(plan.linesIterator.count(_.contains("PushedFilters: [IsNotNull(vec_id)")) >= 2, plan)
    // repo-wide sweep: no registered query may fall back to a
    // cartesian anywhere in its final plan. Mostly planning-only;
    // iterative queries (q_dedup_cluster) do run their driver loop at
    // DataFrame-construction time — the swept plan is the final
    // assembled one, which is exactly what a caller would execute
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      SparkEntry.queries(name)(spark, SparkTesting.sf)
        .queryExecution.executedPlan.toString.contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian plans in: $offenders")
  }

  test("pair-expansion queries: bounded explode, no edge-list self-join") {
    // q_cosupplier_degree / q_assoc_rules (VERDICT r8 item 6): pair
    // generation must come from the HubCap-sliced per-group arrays
    // (fan-out ≤ HubCap² per group by construction), never from a
    // shuffled self-join of the full edge list — the shape that blew
    // its budget 1.7× under driver load. Structural proof: the
    // cosupplier plan has NO join at all; assoc_rules keeps only
    // broadcast enrichment joins (never a shuffled equi-join).
    // r18 (VERDICT r17 item 4): the cap must live INSIDE the
    // aggregation (smallest_k_distinct, O(HubCap) buffers), never as
    // a slice over an unbounded collect_set whose buffer a 100 TB
    // hub group would still blow — pinned for every pair-expansion
    // query that aggregates per-group item sets.
    for (q <- Seq("q_cosupplier_degree", "q_butterfly_count", "q_assoc_rules",
        "q_supplier_similarity", "q_basket_pairs")) {
      val p = executedPlan(SparkEntry.queries(q)(spark, SparkTesting.sf))
      assert(p.contains("smallest_k_distinct"),
        s"$q must aggregate its per-group sets with the bounded " +
          s"smallest_k_distinct:\n$p")
      assert(!p.contains("collect_set"),
        s"$q must not materialize unbounded per-group sets:\n$p")
    }
    val co = executedPlan(
      SparkEntry.queries("q_cosupplier_degree")(spark, SparkTesting.sf))
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!SparkTesting.finalSection(co).contains(j),
        s"q_cosupplier_degree must be join-free (pairs via capped explode), found $j:\n$co")
    assert(SparkTesting.finalSection(co).contains("Generate explode"),
      s"expected explode-based pair generation:\n$co")
    // q_butterfly_count (r17 OPT): same discipline — the old part-keyed
    // self-join evaluated the distinct-edge subtree twice (the renamed
    // sides canonicalize apart, so nothing was reused); pairs now come
    // from the HubCap-sliced per-part set explode, join-free.
    val bf = executedPlan(
      SparkEntry.queries("q_butterfly_count")(spark, SparkTesting.sf))
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!SparkTesting.finalSection(bf).contains(j),
        s"q_butterfly_count must be join-free (pairs via capped explode), found $j:\n$bf")
    assert(SparkTesting.finalSection(bf).contains("Generate explode"),
      s"expected explode-based pair generation:\n$bf")
    val ar = executedPlan(
      SparkEntry.queries("q_assoc_rules")(spark, SparkTesting.sf))
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"))
      assert(!SparkTesting.finalSection(ar).contains(j),
        s"q_assoc_rules may only broadcast-join its enrichments, found $j:\n$ar")
    assert(SparkTesting.finalSection(ar).contains("Generate explode"),
      s"expected explode-based pair generation:\n$ar")
    // q_basket_pairs: pure capped-explode aggregation — join-free
    val bp = executedPlan(
      SparkEntry.queries("q_basket_pairs")(spark, SparkTesting.sf))
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!SparkTesting.finalSection(bp).contains(j),
        s"q_basket_pairs must be join-free, found $j:\n$bp")
    assert(SparkTesting.finalSection(bp).contains("Generate explode"), bp)
    // q_supplier_similarity: pair counts from capped explode; only
    // the size-table broadcast enrichments may join
    val ss = executedPlan(
      SparkEntry.queries("q_supplier_similarity")(spark, SparkTesting.sf))
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"))
      assert(!SparkTesting.finalSection(ss).contains(j),
        s"q_supplier_similarity may only broadcast-join its enrichments, found $j:\n$ss")
    assert(SparkTesting.finalSection(ss).contains("Generate explode"), ss)
  }

  test("no registered query leaks cached relations past the execution path") {
    // Queries snapshot intermediates inside the query (QDef.snap, at
    // plan-BUILD time: q_funnel_steps' step tables, q_triangle_support's
    // edge set), and QDef.withCacheRelease frees them once the action
    // finishes (all harness mains route through it). This sweep proves
    // no registered query leaves a catalog-cached relation (Spark
    // substitutes those into any later query with a matching subtree)
    // or a persisted RDD behind.
    spark.catalog.clearCache()
    val leakers = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      graft.queries.QDef.withCacheRelease(
        spark, SparkEntry.queries(name)(spark, SparkTesting.sf)) { df =>
        df.queryExecution.executedPlan // plan only — snapshots register at build
      }
      !spark.sharedState.cacheManager.isEmpty ||
        (spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty
    }
    assert(leakers.isEmpty, s"cached relations or RDDs survive QDef execution in: $leakers")
  }

  test("decontamination: the eval shingle set broadcasts — no train-side join shuffle") {
    val df = SparkEntry.queries("q_decontam_ngram")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"bounded eval set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"train shingles must not shuffle for the contamination join:\n$plan")
  }

  test("decontamination removal: both joins broadcast — the corpus never shuffles") {
    val df = SparkEntry.queries("q_decontam_filter")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"contamination join and anti-join must both broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sequence packing: the running-total window is shard-partitioned, not global") {
    val df = SparkEntry.queries("q_pack_sequences")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("Window"), plan)
    // a total-order window would force Exchange SinglePartition before
    // the Window — the scale-killer this operator is shaped to avoid
    // (the final presentation orderBy AFTER the window may sort; the
    // window input itself must be hash-partitioned by shard)
    val windowInput = plan.substring(plan.indexOf("Window"))
    assert(windowInput.contains("hashpartitioning(shard"),
      s"window must partition by shard:\n$plan")
  }

  test("quality resample: zero-shuffle projection; rates honored per bucket") {
    val df = SparkEntry.queries("q_quality_resample")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    df.collect()
    val finalPlan = SparkTesting.finalSection(plan)
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      s"per-row hash sampling must not shuffle (sort excepted):\n$finalPlan")
    // every kept row's hash byte clears its bucket's rate
    import org.apache.spark.sql.functions._
    val bad = df.filter(col("b") >= when(col("bucket") === "hi", 256)
      .when(col("bucket") === "mid", 128).otherwise(64)).count()
    assert(bad == 0, "kept rows must clear their bucket rate")
  }

  test("pack fill eval: per-seq token mass reconciles with the packer") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fill = SparkEntry.queries("q_pack_fill_eval")(spark, SparkTesting.sf)
    val pack = SparkEntry.queries("q_pack_sequences")(spark, SparkTesting.sf)
      .groupBy("shard", "seq_id").agg(sum("n_tokens").as("expect"))
    val bad = fill.join(pack, Seq("shard", "seq_id"), "full")
      .filter(col("seq_tokens").isNull || col("expect").isNull ||
        col("seq_tokens") =!= col("expect")).count()
    assert(bad == 0, "fill eval must partition exactly the packed token mass")
  }

  test("embedding ANN dedup: within-cell pairs agree with brute force") {
    import spark.implicits._
    val ann = SparkEntry.queries("q_dedup_embed_ann")(spark, SparkTesting.sf)
      .select("vec_a", "vec_b", "sim3").as[(Long, Long, Double)].collect().toSet
    // brute-force reference restricted to the same cell assignment
    val e = graft.pipeline.Tables.t(spark, SparkTesting.sf, "embeddings")
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val cents = graft.pipeline.Tables.t(spark, SparkTesting.sf, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("centv"))
    val assigned = graft.sim.Similarity.ivfAssign(e, cents)
    val aa = assigned.select(col("cid").as("vec_a"), col("cv").as("va"),
      col("cell").as("cell_a"))
    val bb = assigned.select(col("cid").as("vec_b"), col("cv").as("vb"),
      col("cell").as("cell_b"))
    val brute = aa.crossJoin(bb)
      .filter(col("vec_a") < col("vec_b") && col("cell_a") === col("cell_b"))
      .select(col("vec_a"), col("vec_b"),
        round(graft.sim.Similarity.cosine(col("va"), col("vb")), 3).as("sim3"))
      .filter(col("sim3") >= 0.35)
      .as[(Long, Long, Double)].collect().toSet
    assert(ann == brute,
      s"celled join pairs diverge from brute-force same-cell pairs: " +
        s"only-ann=${(ann -- brute).take(5)} only-brute=${(brute -- ann).take(5)}")
    assert(ann.nonEmpty, "threshold produced no pairs — test is vacuous")
  }

  test("IVF centroid cutover: the constant-array formulation (large k) " +
      "matches the inlined-literal one and stays a zero-shuffle projection") {
    import spark.implicits._
    val e = graft.pipeline.Tables.t(spark, SparkTesting.sf, "embeddings")
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val cents = graft.pipeline.Tables.t(spark, SparkTesting.sf, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("centv"))
    // same centroids through both paths: inlineThreshold=0 forces the
    // past-cutover constant-array transform
    val inlined = graft.sim.Similarity.ivfAssign(e, cents)
      .select("cid", "cell").as[(Long, Long)].collect().toSet
    val constArr = graft.sim.Similarity.ivfAssign(e, cents, inlineThreshold = 0)
    val constSet = constArr.select("cid", "cell").as[(Long, Long)].collect().toSet
    assert(inlined == constSet,
      s"formulations diverge: only-inline=${(inlined -- constSet).take(5)} " +
        s"only-const=${(constSet -- inlined).take(5)}")
    assert(!executedPlan(constArr).contains("Exchange"),
      "large-k assignment must stay a narrow zero-shuffle projection")
    // probe side: same equivalence for the nprobe expansion
    val q = e.limit(20).select(col("cid").as("qid"), col("cv").as("qv"))
    val p1 = graft.sim.Similarity.ivfProbeCells(q, cents, nprobe = 3)
      .select("qid", "cell").as[(Long, Long)].collect().toSet
    val p2 = graft.sim.Similarity.ivfProbeCells(q, cents, nprobe = 3,
      inlineThreshold = 0).select("qid", "cell").as[(Long, Long)].collect().toSet
    assert(p1 == p2, s"probe formulations diverge: ${(p1 diff p2).take(5)}")
  }

  test("ANN recall eval: hits bounded by both rankings, permille exact, " +
      "and the gate is non-vacuous (some cell config scores < 1000)") {
    import spark.implicits._
    val df = SparkEntry.queries("q_embed_recall_eval")(spark, SparkTesting.sf)
    val rows = df.select("qid", "n_truth", "n_ann", "hits", "recall_permille")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty, "recall eval produced no query rows — vacuous")
    rows.foreach { case (qid, nTruth, nAnn, hits, rp) =>
      assert(hits <= nTruth && hits <= nAnn,
        s"qid=$qid: hits=$hits exceeds a ranking (truth=$nTruth ann=$nAnn)")
      assert(nTruth > 0 && nTruth <= 5 && nAnn <= 5,
        s"qid=$qid: top-5 rankings out of bounds (truth=$nTruth ann=$nAnn)")
      assert(rp == 1000 * hits / nTruth && rp >= 0 && rp <= 1000,
        s"qid=$qid: recall_permille=$rp != 1000*$hits/$nTruth")
    }
    // the label cells are weak cosine neighborhoods — if every query
    // scored perfect recall the gate could never reject a config
    assert(rows.exists(_._5 < 1000),
      "every query at 1000 permille — the acceptance gate is vacuous")
  }

  test("k-means recompute: narrow argmax assignment — ONE hash exchange, " +
      "zero joins, and the truncated mean is exact") {
    import spark.implicits._
    val df = SparkEntry.queries("q_kmeans_recompute")(spark, SparkTesting.sf)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"recompute is one map-side-combined agg — one hash exchange:\n$plan")
    assert(!plan.contains("Join"),
      s"assignment is a narrow per-row argmax, never a join:\n$plan")
    val rows = df.select("cell", "pos", "n", "sum_micro", "centroid_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (cell, pos, n, sum, c) =>
      assert(n > 0 && c == sum / n, // JVM Long division truncates like div
        s"cell=$cell pos=$pos: centroid_micro=$c != $sum/$n")
    }
    // Σn over (cell,pos) = Σ per-vector dims — nothing dropped by the explode
    val totalN = rows.map(_._3).sum
    val dims = graft.pipeline.Tables.t(spark, SparkTesting.sf, "embeddings")
      .select(sum(size(col("embedding")).cast("long"))).as[Long].head()
    assert(totalN == dims, s"explode lost components: $totalN != $dims")
  }

  test("textrank: adjacency + node subtrees are snapshotted across " +
      "iterations (tokenize once per execution), ranks floor at the teleport term") {
    import spark.implicits._
    val df = SparkEntry.queries("q_textrank_keywords")(spark, SparkTesting.sf)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    // 3 unrolled iterations reference the edge/strength/node subtrees
    // repeatedly — before r18 the references canonicalized apart and
    // the executed plan carried 44 parquet scans (the corpus tokenized
    // once PER REFERENCE); the TextRank.ranks snapshots truncate every
    // reference to stored blocks, so the FINAL plan reads the corpus
    // zero times (the one tokenize pass lives in the snapshot
    // materialization job, outside this plan)
    assert("Scan parquet".r.findAllIn(plan).isEmpty,
      s"iteration subtrees must read snapshot blocks, not recompute the corpus:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"expected localCheckpoint snapshot scans in the final plan:\n$plan")
    val rows = df.select("tok", "pr_micro").as[(String, Long)].collect()
    assert(rows.length == 20, s"top-20 keywords expected, got ${rows.length}")
    // every node keeps the (1−d)·Scale teleport term, and damping
    // bounds any node below Scale + its in-strength share
    assert(rows.forall(_._2 >= graft.text.TextRank.BaseMicro),
      s"rank below the teleport floor: ${rows.filter(_._2 < 150000L).take(3).toSeq}")
    assert(rows.map(_._2).max > graft.text.TextRank.BaseMicro,
      "all ranks at the floor — the graph contributed nothing, test is vacuous")
  }

  test("containment dfCap: the hub-drop costs no extra shuffle class of the " +
      "token stream (df-agg + kept-join ride the pair join's own exchanges)") {
    // At bench SF every join broadcast-folds, so the scale shape is
    // invisible; disable broadcast to surface the SMJ/exchange plan a
    // 100 TB corpus would run, then compare capped vs uncapped.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = graft.pipeline.Tables.t(spark, SparkTesting.sf, "documents")
        .filter(col("doc_id") % 13 === 0)
      def toks = docs.select(col("doc_id"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok")).distinct()
      // live (non-reused) token-keyed exchanges: ReusedExchange nodes
      // repeat the original exchange's description, so exclude them
      def tokExchanges(plan: String): Int = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(tok") && !l.contains("ReusedExchange"))
      def docScans(plan: String): Int = plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents.parquet"))
      val uncapped = executedPlan(
        graft.text.NearDup.containmentPairs(toks, "doc_id", "tok"))
        .split("== Initial Plan ==")(0)
      val capped = executedPlan(
        graft.text.NearDup.containmentPairs(toks, "doc_id", "tok",
          dfCap = Some(graft.text.NearDup.TokenDfCap)))
        .split("== Initial Plan ==")(0)
      val (u, c) = (tokExchanges(uncapped), tokExchanges(capped))
      assert(u >= 1, s"expected a token-keyed exchange in the pair join:\n$uncapped")
      // the corpus is scanned + tokenized + shuffled ONCE; the df-agg,
      // kept-join, and both pair-join sides all read ReusedExchange
      // nodes of that one exchange — dfCap must not re-derive the
      // corpus for its frequency count
      assert(docScans(capped) == 1,
        s"capped plan re-scans documents ${docScans(capped)}x — the df-agg " +
          s"must reuse the tokenization exchange, not recompute it:\n$capped")
      assert(capped.contains("ReusedExchange"),
        s"capped plan must reuse the tokenization exchange across the " +
          s"df-agg/kept/pair branches:\n$capped")
      // the cap's only new shuffle carries (tok, partial count) rows —
      // vocab-bounded, never corpus-sized: at most one extra live
      // token-keyed exchange class vs the uncapped plan
      assert(c <= u + 1,
        s"dfCap added ${c - u} token-keyed shuffle classes (capped $c vs " +
          s"uncapped $u) — expected at most the vocab-bounded df partial " +
          s"aggregate:\n$capped")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
  }

  test("prefix-filtered Jaccard join: differentially equal to the " +
      "full-join truth (candidate completeness)") {
    import spark.implicits._
    val tok = SparkEntry.queries("q_dedup_token_jaccard")(spark, SparkTesting.sf)
    // full-join truth restricted to verified near-dups
    val full = tok.filter(col("near_dup") === 1)
      .select("doc_a", "doc_b", "i", "na", "nb")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val pref = SparkEntry.queries("q_dedup_prefix_jaccard")(spark, SparkTesting.sf)
      .select("doc_a", "doc_b", "i", "na", "nb")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(pref.toSeq == full.toSeq,
      s"prefix candidate scheme dropped or invented pairs: ${pref.length} vs ${full.length}")
    assert(pref.nonEmpty, "no near-dup pairs — the differential test is vacuous")
  }

  test("partitioned parquet sink: the language probe prunes at the " +
      "partition listing, not by scanning all languages") {
    val df = SparkEntry.queries("q_sink_parquet_partitioned")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("PartitionFilters"),
      s"readback must carry a partition filter:\n$plan")
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("lang"), s"partition filter must bind lang:\n$pf")
    assert(df.count() > 0)
  }

  test("incremental aggregate merge: the full-outer merge join reuses the " +
      "two state aggregations' partitioning — exactly two hash exchanges") {
    val df = SparkEntry.queries("q_agg_incremental_merge")(spark, SparkTesting.sf)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"history agg + delta agg shuffle once each; the key-to-key merge join " +
        s"must add NO exchange:\n$plan")
    assert(plan.contains("FullOuter") || plan.contains("full_outer"),
      s"merge must be a full outer join (keys may exist on one side only):\n$plan")
  }

  test("cube pricing: four grouping sets cost ONE scan through a single Expand") {
    val df = SparkEntry.queries("q_cube_pricing")(spark, SparkTesting.sf)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    assert("Expand".r.findAllIn(plan).length == 1,
      s"cube must plan one Expand node:\n$plan")
    assert(plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem")) == 1,
      s"all four granularities must share one lineitem scan:\n$plan")
  }

  test("bigram-LM score: map-side-combined bigram count, equi-joins only, " +
      "and short docs score 0 instead of dividing by zero") {
    import spark.implicits._
    val df = SparkEntry.queries("q_doc_lm_score")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"bigram counting must combine map-side before the shuffle:\n$plan")
    val rows = df.select("doc_id", "n_bigrams", "sum_cnt", "lm_score_milli")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, s0, m) =>
      if (n == 0) assert(s0 == 0 && m == 0, s"doc $id: empty doc must score 0")
      else assert(m == 1000 * s0 / n, s"doc $id: score $m != 1000*$s0/$n")
      assert(s0 >= n, s"doc $id: every bigram occurs at least once ($s0 < $n)")
    }
  }

  test("PQ encode: narrow zero-shuffle projection over inlined codebook " +
      "literals, training vectors self-encode at distance zero") {
    import spark.implicits._
    val df = SparkEntry.queries("q_embed_pq_codes")(spark, SparkTesting.sf)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning") && !plan.contains("Join"),
      s"PQ encoding is a per-row projection, never a join:\n$plan")
    val rows = df.select("vec_id", "sub_j", "code", "dist_pico2")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length % 8 == 0, "8 subspace rows per vector")
    rows.foreach { case (id, j, c, dist) =>
      assert(j >= 0 && j < 8 && c >= 0 && c < 16 && dist >= 0,
        s"vec $id: out-of-range subspace/code/dist ($j, $c, $dist)")
      // a codebook entry's own subvector is its nearest codeword
      if (id < 16) assert(c == id && dist == 0,
        s"training vec $id must self-encode: got code $c dist $dist")
    }
  }

  test("PQ asymmetric search: broadcast LUT equi-join over the code table, " +
      "ADC distance reconstructs from codes alone") {
    import spark.implicits._
    val df = SparkEntry.queries("q_embed_pq_adc")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-query LUT must broadcast into the code join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    val got = df.select("qid", "cid", "adc_dist", "rank")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // recompute one query's ADC distances from codes + LUT directly
    val codes = SparkEntry.queries("q_embed_pq_codes")(spark, SparkTesting.sf)
      .select("vec_id", "sub_j", "code", "dist_pico2")
      .as[(Long, Long, Long, Long)].collect()
    val qid = got.head._1
    // LUT rows for qid are the per-subspace distances of q's subvectors
    // to every codeword — for the check, ADC(q, c) where c is a TRAINING
    // vector (vec_id < 16) must equal Σ_j lut[j][its own code], and the
    // training vector's codes self-encode, so ADC(q, c) = Σ_j d(q_j, c_j)
    // = the plain integer squared L2 distance between q and c
    val emb = graft.pipeline.Tables.t(spark, SparkTesting.sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000000.0 + 0.5).toLong).toArray
    val q = quant(emb(qid))
    got.filter(r => r._1 == qid && r._2 < 16).foreach { case (_, cid, adc, _) =>
      val c = quant(emb(cid))
      val exact = q.indices.map(i => (q(i) - c(i)) * (q(i) - c(i))).sum
      assert(adc == exact,
        s"ADC($qid,$cid)=$adc != exact integer L2 $exact for a self-encoded target")
    }
    codes.foreach { case (_, j, c, _) => assert(j < 8 && c < 16) }
  }

  test("SRP signatures: narrow zero-shuffle projection — no join, no hash " +
      "exchange, and every signature fits the 32-plane space") {
    import spark.implicits._
    val df = SparkEntry.queries("q_embed_srp_sig")(spark, SparkTesting.sf)
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning") && !plan.contains("Join"),
      s"signature computation is a per-row projection:\n$plan")
    val rows = df.select("vec_id", "sig", "band0", "band1", "band2", "band3", "popcnt")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, sig, b0, b1, b2, b3, pc) =>
      assert(sig >= 0 && sig < (1L << 32), s"vec $id: sig=$sig outside 32 bits")
      assert(b0 == (sig & 255) && b1 == ((sig >> 8) & 255) &&
        b2 == ((sig >> 16) & 255) && b3 == ((sig >> 24) & 255),
        s"vec $id: bands don't slice sig=$sig")
      assert(pc == java.lang.Long.bitCount(sig), s"vec $id: popcnt mismatch")
    }
  }

  test("SRP pairs: banded equi-join (cartesian-free), band subtrees reuse " +
      "one exchange, and every pair genuinely collides in a band") {
    import spark.implicits._
    // at test size the band join broadcasts; the at-scale claim is the
    // shuffle-join form, where the two identical band-explode sides
    // must dedup into ONE exchange — force it to assert that shape
    val plan = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      executedPlan(SparkEntry.queries("q_embed_srp_pairs")(spark, SparkTesting.sf))
        .split("== Initial Plan ==")(0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"band collision join must be an equi-join:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"the two identical band-explode sides must share one exchange:\n$plan")
    val df = SparkEntry.queries("q_embed_srp_pairs")(spark, SparkTesting.sf)
    val pairs = df.select("ida", "idb", "hamming", "dot_pico")
      .as[(Long, Long, Long, Long)].collect()
    assert(pairs.length == 50, s"top-50 expected, got ${pairs.length}")
    // output is ranked: hamming non-decreasing
    assert(pairs.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)),
      "pairs not ranked by hamming")
    // recompute signatures independently and check the LSH contract:
    // reported hamming is the true signature distance, and the pair
    // shares at least one 8-bit band (else it could never be a candidate)
    val sigs = SparkEntry.queries("q_embed_srp_sig")(spark, SparkTesting.sf)
      .select("vec_id", "sig").as[(Long, Long)].collect().toMap
    pairs.foreach { case (a, b, h, _) =>
      val (sa, sb) = (sigs(a), sigs(b))
      assert(h == java.lang.Long.bitCount(sa ^ sb), s"pair ($a,$b): hamming wrong")
      assert((0 until 4).exists(j => ((sa >> (8 * j)) & 255) == ((sb >> (8 * j)) & 255)),
        s"pair ($a,$b): no shared band — not a legal LSH candidate")
    }
  }

  test("SRP multi-probe eval: probe expansion stays query-side, and the " +
      "recall/cost curve is monotone in probe depth") {
    import spark.implicits._
    val df = SparkEntry.queries("q_embed_srp_probe_eval")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"),
      s"only the bounded broadcast truth pass may nest loops:\n$plan")
    val rows = df.select("probe_hamming", "n_cand", "n_truth", "n_hit", "recall_permille")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L), "expected probe depths 0,1,2")
    // deeper probes only ADD candidates (supersets), so cost and
    // candidate-set recall must both be non-decreasing
    assert(rows.map(_._2).sliding(2).forall(w => w(0) <= w(1)),
      s"candidate cost not monotone: ${rows.toSeq}")
    assert(rows.map(_._5).sliding(2).forall(w => w(0) <= w(1)),
      s"recall not monotone in probe depth: ${rows.toSeq}")
    assert(rows.last._5 > 0, "probe<=2 recall is zero — the gate is vacuous")
    rows.foreach { case (_, _, nTruth, nHit, rp) =>
      assert(nHit <= nTruth && rp == 1000 * nHit / nTruth, s"inconsistent row: ${rows.toSeq}")
    }
  }

  test("token-budget selection: budget + running-fill windows share ONE " +
      "source hash exchange (text tokenized before the shuffle)") {
    val df = SparkEntry.queries("q_select_token_budget")(spark, SparkTesting.sf)
    // count in the FINAL plan only — AQE's toString appends the
    // "Initial Plan" section, which would double every exchange
    val plan = executedPlan(df).split("== Initial Plan ==")(0)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange (source), got $hashExchanges:\n$plan")
    assert(df.count() > 0, "budget selection produced no rows — test is vacuous")
  }

  test("weighted mixing: projection + explode only — no shuffle before the presentation sort") {
    val df = SparkEntry.queries("q_mix_weighted")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"mixing must not shuffle (only the oracle orderBy may range-sort):\n$plan")
  }

  test("approx distinct: no per-key HLL partial state crosses the exchange") {
    // r17 OPT: the one-shot countDistinct+approx_count_distinct
    // aggregate shipped a 410-slot HLL++ buffer per (flag, partkey)
    // GROUP through the first exchange (a 413-column partial row).
    // The rewrite dedups to the (flag, partkey) grain first — 3
    // narrow columns — and sketches the deduped keys above it. Pin:
    // no aggregate keyed by (l_returnflag, l_partkey) may carry an
    // approx_count_distinct partial.
    val df = SparkEntry.queries("q_approx_distinct")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    val offending = plan.linesIterator.filter { l =>
      // key LIST contains l_partkey (not merely the sketch's argument)
      val k = l.indexOf("keys=[")
      l.contains("approx_count_distinct") && k >= 0 &&
        l.substring(k, l.indexOf("]", k) max k).contains("l_partkey")
    }.toSeq
    assert(offending.isEmpty,
      s"HLL partial state rides the per-key aggregate again:\n${offending.mkString("\n")}")
    assert(plan.contains("approx_count_distinct"),
      s"the sketch must still be computed (above the deduped grain):\n$plan")
    assert(df.count() == 3)
  }

  test("boilerplate fraction: the common set broadcasts — the doc side never shuffle-joins") {
    val df = SparkEntry.queries("q_boilerplate_frac")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the df>=10% set is small by construction and must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"per-doc shingles must not shuffle for the membership join:\n$plan")
  }

  test("weighted median: two-pass rank selection — every window rides a " +
      "band-bounded aggregate, the crossing-band filter broadcasts") {
    // the r16 sf10 sweep's 2nd-slowest grower: a 3-value PARTITION BY
    // window over raw lineitem is a hard <=3-task parallelism ceiling
    // (and this lake's cents domain is 0.44-0.99x the fact, so a
    // support table alone doesn't collapse it). The rewrite locates
    // each flag's half-mass crossing in 4096-cent bands first, then
    // resolves exactly inside the one crossing band — so EVERY Window
    // node must sit above an Aggregate, the band filter must be a
    // broadcast join, and the fact is scanned exactly twice.
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("q_weighted_median")(spark, SparkTesting.sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }
    assert(windows.nonEmpty, "expected the cumulative-weight windows")
    windows.foreach { w =>
      val aggBelow = w.child.collectFirst { case a: logical.Aggregate => a }
      assert(aggBelow.isDefined,
        s"window fed by the raw fact (no bounded aggregate below):\n$w")
    }
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the 3-row crossing-band table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"pass 2 must not shuffle the fact for the band filter:\n$plan")
    val scans = SparkTesting.finalSection(plan).linesIterator
      .count(_.contains("Scan parquet"))
    assert(scans == 2, s"expected exactly two pruned fact scans, got $scans:\n$plan")
    assert(df.count() === 3, "expected one median row per returnflag")
  }

  test("inverted index: rank-only window unlocks the map-side " +
      "WindowGroupLimit; n_docs joins back co-partitioned") {
    // the r16 sf10 sweep's top slow-grower: a count(*) frame riding
    // the same window select forced every posting of every stop-word
    // term to one reducer. With row_number alone, Spark inserts a
    // PARTIAL WindowGroupLimit before the shuffle — each map task
    // forwards at most 10 postings per term.
    val df = SparkEntry.queries("q_inverted_index")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("WindowGroupLimit"),
      s"expected the map-side group limit in:\n$plan")
    assert(df.count() > 0, "inverted index produced no rows — vacuous")
  }

  test("capped LSH buckets: one pass — capped aggregate, no semi-join, one scan") {
    val df = SparkEntry.queries("q_dedup_winnow_pairs")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("capped_sorted_ids"),
      s"capped mode must collect through the bounded aggregate:\n$plan")
    assert(!plan.contains("LeftSemi"),
      s"the old count-preaggregate + semi-join shape evaluated the " +
        s"fingerprint pipeline twice:\n$plan")
    // AQE's toString repeats the plan under "== Initial Plan ==" —
    // count scans in the final section only
    val finalSection = SparkTesting.finalSection(plan)
    val scans = finalSection.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1,
      s"expected exactly one documents scan, got $scans:\n$plan")
  }

  test("ccnet buckets: tercile windows ride the (lang, score) support " +
      "aggregate, never corpus rows") {
    // the q_weighted_median support-table discipline applied at design
    // time: a per-language cumulative window over raw docs would be a
    // |langs|-task parallelism ceiling; here every Window node must
    // sit above the support Aggregate (distinct milli scores per
    // language), so window input is support-bounded at any corpus
    // size.
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("q_ccnet_buckets")(spark, SparkTesting.sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }
    assert(windows.nonEmpty, "expected the tercile windows")
    windows.foreach { w =>
      val aggBelow = w.child.collectFirst { case a: logical.Aggregate => a }
      assert(aggBelow.isDefined,
        s"window fed by raw docs (no support aggregate below):\n$w")
    }
    assert(df.count() > 0, "no buckets produced — vacuous")
  }

  test("sample reservoir: rank-only window gets the map-side WindowGroupLimit") {
    // a |langs|-partition window over raw docs would be a parallelism
    // ceiling and a full corpus shuffle; with row_number alone the
    // optimizer inserts the PARTIAL group limit, so each map task
    // forwards at most 5 rows per language.
    val df = SparkEntry.queries("q_sample_reservoir")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    assert(plan.contains("WindowGroupLimit"),
      s"expected the map-side group limit in:\n$plan")
    assert(df.count() > 0, "no sample produced — vacuous")
  }

  test("vocab coverage curve: one bounded TakeOrdered, no per-k fan-out, " +
      "≤2 pruned scans") {
    // the four cuts must come from ONE pass over the bounded top
    // table (explode-of-cuts + a single aggregate), never a per-k
    // union that re-evaluates the tokenize/count pipeline; the top
    // selection must be TakeOrdered (bounded), not a global sort.
    val df = SparkEntry.queries("q_vocab_coverage_curve")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    val finalSection = SparkTesting.finalSection(plan)
    val takeOrdered = finalSection.linesIterator
      .count(_.contains("TakeOrderedAndProject"))
    assert(takeOrdered == 1,
      s"expected exactly one bounded TakeOrdered, got $takeOrdered:\n$plan")
    assert(!finalSection.contains("Union"),
      s"per-k union fan-out re-evaluates the pipeline:\n$plan")
    val scans = finalSection.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2,
      s"expected ≤2 pruned scans (count + total), got $scans:\n$plan")
    assert(df.count() === 4, "expected one row per vocab cut")
  }

  test("soft dedup weights: ONE corpus scan, all joins support-table sized") {
    // the naive shape scans documents twice (once for cluster sizes,
    // once for the probe) and joins at row grain; the support-table
    // shape collapses the corpus once to (fp, source) counts and
    // every later input derives from that aggregate.
    val df = SparkEntry.queries("q_soft_dedup_weights")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    val fin = SparkTesting.finalSection(plan)
    val scans = fin.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly one corpus scan, got $scans:\n$plan")
    assert(df.count() > 0)
  }

  test("t-closeness: ≤2 pruned 3-column scans, class-lang exchange reused") {
    val df = SparkEntry.queries("q_t_closeness")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    val fin = SparkTesting.finalSection(plan)
    val scans = fin.linesIterator.filter(_.contains("Scan parquet")).toSeq
    assert(scans.size <= 2, s"expected ≤2 scans, got ${scans.size}:\n$plan")
    scans.foreach(l => assert(
      l.contains("ReadSchema: struct<lang:string,source:string,n_chars:bigint>"),
      s"scan not pruned to the 3 QI/sensitive columns:\n$l"))
    assert(plan.contains("ReusedExchange"),
      s"the (QI, lang) aggregate exchange must be reused by the marginals:\n$plan")
    assert(df.count() > 0)
  }

  test("jsd sources: corpus tokenized ONCE, absent-token mass in closed form") {
    // the (source, token) explode+aggregate is the expensive stage;
    // the closed-form absent-mass residual means no probe-side
    // re-tokenize and no |sources|×|vocab| cross product.
    val df = SparkEntry.queries("q_jsd_sources")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    val fin = SparkTesting.finalSection(plan)
    // AQE's result-stage print can repeat the tree, so pin the RATIO:
    // one tokenize explode per corpus scan (every other use of the
    // (source, token) aggregate must be a ReusedExchange).
    val generates = fin.linesIterator.count(_.contains("Generate explode"))
    val scans = fin.linesIterator.count(_.contains("Scan parquet"))
    assert(scans >= 1 && generates == scans,
      s"expected one tokenize explode per scan, got $generates/$scans:\n$plan")
    assert(fin.contains("ReusedExchange"),
      s"the st aggregate exchange must be reused, not re-run:\n$plan")
    // exactly one cross join per tree copy is allowed — the 1-row
    // global-total broadcast; a second would be the |sources|×|vocab|
    // product this shape exists to avoid
    val bnlj = fin.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= scans,
      s"more cross joins than scalar-total broadcasts ($bnlj vs $scans):\n$plan")
    assert(df.count() > 0)
  }

  test("shard checksum: one scan, map-side-combined commutative aggregate") {
    val df = SparkEntry.queries("q_shard_checksum")(spark, SparkTesting.sf)
    val plan = executedPlan(df)
    val fin = SparkTesting.finalSection(plan)
    assert(fin.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"expected one scan:\n$plan")
    assert(fin.contains("partial_sum") || fin.contains("partial_count"),
      s"aggregate must map-side combine:\n$plan")
    assert(!fin.contains("Join"), s"manifest must be join-free:\n$plan")
    assert(df.count() > 0)
  }

  test("global-window audit: every partition-less Window in every " +
      "registered query rides a reduced relation, never fact grain") {
    // VERDICT r17 item 7: `runMain graft.Verify` floods WindowExec
    // "No Partition Defined" warnings, and nobody had audited ALL of
    // them since the inventory grew to 423 — one global window over a
    // fact table would be a scale-killer hiding in a warning everyone
    // ignores. Mechanical sweep: for EVERY registered query, every
    // logical Window with an empty partitionSpec must sit above a
    // REDUCING boundary — an Aggregate / Deduplicate / GlobalLimit —
    // or read only bounded leaves (Range / LocalRelation / a
    // ≤N-row sample filter is still an Aggregate upstream here).
    // Windows partitioned by a column are exempt: they scale out.
    import org.apache.spark.sql.catalyst.plans.logical
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val qe = SparkEntry.queries(name)(spark, SparkTesting.sf).queryExecution
      qe.optimizedPlan.collect {
        case w: logical.Window if w.partitionSpec.isEmpty =>
          val reduced = w.child.collectFirst {
            case a: logical.Aggregate => a: logical.LogicalPlan
            case d: logical.Deduplicate => d
            case l: logical.GlobalLimit => l
          }.isDefined
          val boundedLeaves = w.child.collectLeaves().forall {
            case _: logical.Range => true
            case _: logical.LocalRelation => true
            case _: logical.OneRowRelation => true
            case _ => false
          }
          if (reduced || boundedLeaves) None
          else Some(s"$name: global window over unreduced child:\n${w.child}")
      }.flatten
    }
    assert(offenders.isEmpty,
      s"${offenders.size} global window(s) ride fact-grain input:\n" +
        offenders.mkString("\n---\n"))
  }
}
