package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QDef
import graft.text.{Mixing, NearDup, TextAnalysis => TA}

/** Corpus CURATION lifecycle — the training-data analog of
  * `RunPipeline.runFull`: the composed end-to-end pipeline that turns
  * a raw document corpus into a clean, deduplicated, decontaminated,
  * split-assigned training set, reusing the ONE definition of each
  * stage rule (TA.withQualityVerdict, NearDup.exactDedup /
  * connectedComponents, the 4-gram decontamination join,
  * Mixing.splitAssign) so the composed pipeline cannot drift from
  * the individually-oracled operators.
  *
  * Stage order is deliberate and cost-ranked for 100 TB:
  *   1. quality gate — a pure codegen'd projection, runs first so
  *      every later (shuffling) stage sees only survivors;
  *   2. exact dedup — one md5 hash aggregate;
  *   3. near-dup cluster representatives — candidate pairs from the
  *      caller-supplied generator (exact Jaccard on bounded samples,
  *      LSH banding at scale), connected components, keep the
  *      longest doc per cluster (doc_id tiebreak);
  *   4. decontamination — benchmark 4-gram shingles BROADCAST against
  *      the corpus (eval sets are small by construction), eval rows
  *      themselves dropped from train;
  *   5. split assignment — a pure seed-hash projection.
  * The only corpus-wide shuffles are the dedup aggregate and the
  * pair generator; everything else is projections and broadcasts.
  */
object Curation {

  /** Every intermediate stage, so callers can audit each. The
    * quality, exact-dedup, reps and clean boundaries are [[QDef.snap]]
    * snapshots: each materializes once on first use, and
    * [[QDef.withCacheRelease]] frees them after the query's action
    * (a stage read after that release fails). */
  final case class Stages(
      raw: DataFrame, quality: DataFrame, exactDeduped: DataFrame,
      reps: DataFrame, clean: DataFrame, split: DataFrame)

  /** Run the lifecycle. `edgePairs` turns the exact-deduped corpus
    * into near-dup candidate (doc_a, doc_b) pairs — exact Jaccard for
    * bounded inputs, `NearDup.lshCandidatePairs` at scale. `evalDocs`
    * is the benchmark set to decontaminate against (rows with
    * doc_id % 50 = 0 are additionally treated as eval members and
    * removed from train, mirroring q_decontam_filter). */
  def curate(docs: DataFrame, evalDocs: DataFrame,
             edgePairs: DataFrame => DataFrame): Stages = {
    val cols = docs.columns.map(col)

    // Every stage boundary below with several downstream readers is
    // a snapshot (a 100 TB run writes stage boundaries to storage
    // instead). The verdict projection would otherwise run three
    // times: the exact-dedup aggregate's build side, the survivor
    // join's probe side, and the audit's b_quality count.
    val quality = QDef.snap(TA.withQualityVerdict(docs, "text")
      .filter(col("keep") === 1).select(cols: _*))

    val keepIds = NearDup.exactDedup(quality, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    // read by the audit's c-count and twice inside the reps plan (the
    // edge generator and the survivor join)
    val exact = QDef.snap(quality.join(keepIds, "doc_id"))

    val cc = NearDup.connectedComponents(exact.select("doc_id"), "doc_id",
      edgePairs(exact))
    val byCluster = Window.partitionBy("cluster_id")
    val repIds = cc.join(exact.select("doc_id", "n_chars"), "doc_id")
      .withColumn("rn",
        row_number().over(byCluster.orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rn") === 1).select("doc_id")
    // the audit and the decontamination stage re-read this boundary,
    // and the CC iteration above must not re-run per consumer
    val reps = QDef.snap(exact.join(repIds, "doc_id"))

    val evSh = NearDup.shinglesN(evalDocs, "doc_id", "text", 4)
      .select("sh").distinct()
    val train = reps.filter(col("doc_id") % 50 =!= 0)
    val bad = NearDup.shinglesN(train, "doc_id", "text", 4, distinct = false)
      .join(broadcast(evSh), "sh")
      .select("doc_id").distinct()
    val clean = QDef.snap(train.join(bad, Seq("doc_id"), "left_anti"))

    val split = clean.withColumn("split",
      Mixing.splitAssign("split1", col("doc_id")))

    Stages(docs, quality, exact, reps, clean, split)
  }

  /** Per-stage row counts, one row per lifecycle stage (stage-letter
    * prefixes give the lifecycle order under a plain string sort).
    * EAGER by design: the counts are 8 scalars, so they are taken as
    * actions at build time and the returned frame holds no snapshot —
    * a lazy union of count-aggregates would re-read the stage
    * snapshots inside the consumer's action. */
  def audit(st: Stages): DataFrame = {
    val spark = st.raw.sparkSession
    import spark.implicits._
    val base = Seq(
      "a_raw" -> st.raw.count(),
      "b_quality" -> st.quality.count(),
      "c_exact_dedup" -> st.exactDeduped.count(),
      "d_neardup_rep" -> st.reps.count(),
      "e_decontam" -> st.clean.count())
    val splits = st.split.groupBy("split").count().collect().map { r =>
      (r.getString(0) match {
        case "train" => "f_train"
        case "val"   => "g_val"
        case _       => "h_test"
      }) -> r.getLong(1)
    }.toSeq
    (base ++ splits).sortBy(_._1).toDF("stage", "n_docs")
  }
}
