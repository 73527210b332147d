package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import graft.text.TextAnalysis

/** Streaming packer input: one doc routed to its packing shard. */
final case class PackDoc(doc_id: Long, shard: Long, n_tokens: Long)

/** A packed doc: its offset in the shard's token stream and the
  * context window (`seq_id`) its first token lands in. */
final case class PackedDoc(doc_id: Long, shard: Long, n_tokens: Long,
                           start_off: Long, seq_id: Long)

/** Streaming analog of q_pack_sequences: per shard, the running token
  * total persists in a `ValueState[Long]` across micro-batches, so
  * docs keep packing into consecutive context windows forever without
  * replanning history. Within a micro-batch, docs pack in doc-id
  * order (the batch operator's order); across batches, in arrival
  * order — O(1) state per shard, RocksDB-backed. */
final class PackProcessor(budget: Long)
    extends StatefulProcessor[Long, PackDoc, PackedDoc] {

  @transient private var cum: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    cum = getHandle.getValueState[Long](
      "pack_cum", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(shard: Long, rows: Iterator[PackDoc],
                               timers: TimerValues): Iterator[PackedDoc] = {
    var c = if (cum.exists()) cum.get() else 0L
    val out = rows.toVector.sortBy(_.doc_id).map { d =>
      val off = c
      c += d.n_tokens
      PackedDoc(d.doc_id, d.shard, d.n_tokens, off, off / budget)
    }
    cum.update(c)
    out.iterator
  }
}

/** One token observation routed to its source's frequency sketch. */
final case class TokObs(source: String, tok: String)

/** A current heavy-hitter candidate: `est` is the Misra-Gries
  * residual count — an UNDER-estimate of the true frequency by at
  * most N/(k+1) (see [[graft.ops.MisraGriesAgg]]). */
final case class HeavyHitter(source: String, tok: String, est: Long)

/** Streaming analog of q_heavy_hitters_gate's sketch pass: one
  * Misra-Gries(k) summary per source lives in a `ValueState[MGBuf]`
  * — O(k) state per source FOREVER, no matter how many distinct
  * tokens the stream carries (an exact streaming count would grow
  * with the vocabulary). After each micro-batch the source's current
  * candidate set is re-emitted (Update mode); the one-sided
  * guarantee means a token above the N/(k+1) frequency floor is
  * never absent from the latest emission. The exact-gate second pass
  * stays batch-side, where the corpus can be re-scanned. */
final class HeavyHitterProcessor(k: Int)
    extends StatefulProcessor[String, TokObs, HeavyHitter] {

  @transient private var sketch: ValueState[graft.ops.MGBuf] = _
  private val mg = new graft.ops.MisraGriesAgg(k)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sketch = getHandle.getValueState[graft.ops.MGBuf](
      "mg_sketch", Encoders.product[graft.ops.MGBuf], TTLConfig.NONE)

  override def handleInputRows(source: String, rows: Iterator[TokObs],
                               timers: TimerValues): Iterator[HeavyHitter] = {
    var b = if (sketch.exists()) sketch.get() else mg.zero
    rows.foreach(r => b = mg.reduce(b, r.tok))
    sketch.update(b)
    b.toks.toSeq.sortBy(_._1)
      .map { case (t, c) => HeavyHitter(source, t, c) }.iterator
  }
}

/** Streaming quota input: one doc with its source key. */
final case class QuotaDoc(doc_id: Long, source: String)

/** An admitted doc: `rank_in_source` is its 1-based admission index
  * within the source's lifetime quota. */
final case class AdmittedDoc(doc_id: Long, source: String, rank_in_source: Long)

/** Streaming analog of q_cap_per_source: admit at most `cap` docs per
  * source over the stream's LIFETIME, carrying the admitted count in
  * one `ValueState[Long]` per source — O(1) state regardless of
  * stream length (the dedup store keeps a fingerprint per doc; a
  * quota needs only a counter). Within a micro-batch docs are
  * admitted in doc-id order (the batch operator's order), across
  * batches in arrival order; once the counter hits the cap, later
  * rows drop forever — redelivery of an ADMITTED doc is not
  * re-admitted by id (that is the dedup store's job upstream), this
  * is a pure budget gate. */
final class QuotaProcessor(cap: Long)
    extends StatefulProcessor[String, QuotaDoc, AdmittedDoc] {

  @transient private var admitted: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    admitted = getHandle.getValueState[Long](
      "quota_admitted", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(source: String, rows: Iterator[QuotaDoc],
                               timers: TimerValues): Iterator[AdmittedDoc] = {
    var c = if (admitted.exists()) admitted.get() else 0L
    val out = rows.toVector.sortBy(_.doc_id).flatMap { d =>
      if (c < cap) { c += 1; Some(AdmittedDoc(d.doc_id, source, c)) } else None
    }
    admitted.update(c)
    out.iterator
  }
}

/** Streaming ingestion for the training-data document surface
  * (SURVEY.md §2.11 meets §2.9): the batch quality/dedup/stats
  * operators applied to an UNBOUNDED feed. Every transform here
  * reuses the batch expression trees — the plans are the same
  * Catalyst trees the DuckDB oracles verify, just planned
  * incrementally — so batch and stream verdicts cannot drift.
  *
  * The scale shape matches the batch path: the gate is a per-row
  * projection (no state), dedup keeps one fingerprint per doc in the
  * state store bounded by the watermark, and the intake stats are a
  * watermarked windowed aggregate with map-side partial aggregation
  * per micro-batch.
  */
object DocStream {

  /** Quality gate: appends n_tokens / reject_reason / keep via the
    * SHARED verdict tree (TextAnalysis.withQualityVerdict — the one
    * q_doc_quality_filter oracle-checks). Stateless projection:
    * safe at any stream rate. */
  def qualityGated(docs: DataFrame, textCol: String = "text"): DataFrame =
    TextAnalysis.withQualityVerdict(docs, textCol)

  /** Streaming exact dedup: content fingerprint (md5 of the full
    * text — the batch exactDedup key) deduplicated WITHIN the
    * watermark, so re-delivered or re-crawled docs collapse while
    * state stays bounded by `watermarkDelay` of event time (the
    * unbounded-state trap of a plain dropDuplicates on an infinite
    * corpus). */
  def dedupExactStream(docs: DataFrame, tsCol: String,
                       watermarkDelay: String,
                       textCol: String = "text"): DataFrame =
    docs.withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming DECONTAMINATION gate: incoming docs that share any
    * word-n-gram with a STATIC eval/benchmark shingle set
    * (`evalShingles`, one `sh` column — the batch q_decontam_ngram's
    * eval side). Stream-static shape: the doc's shingles explode,
    * semi-join the (bounded, broadcast) eval set, and the surviving
    * doc ids dedup within the watermark — so each contaminated doc
    * emits once and state stays bounded. The corpus side never
    * shuffles, mirroring the batch plan assertion. */
  def contaminatedStream(docs: DataFrame, evalShingles: DataFrame,
                         n: Int, tsCol: String, watermarkDelay: String,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    // one linear pass, ONE stateful operator: explode keeps the event
    // time alongside each shingle, the static join filters, and the
    // watermarked dedup collapses a doc's multiple matching shingles
    // to a single emission (a nested per-doc aggregation here would
    // be a second stateful op / stream-stream join — unnecessary).
    // Shingling is NearDup.shingleExpr — the same tree the batch
    // decontamination operators build on.
    docs
      .select(col(idCol), col(tsCol),
        graft.text.TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col(tsCol),
        explode(graft.text.NearDup.shingleExpr("_toks", n)).as("sh"))
      .join(broadcast(evalShingles.select("sh")), Seq("sh"))
      .select(col(idCol), col(tsCol))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)
  }

  /** Streaming SEMANTIC contamination gate — the embedding-space
    * sibling of [[contaminatedStream]] (q_decontam_embed's streaming
    * face): vectors whose max rounded cosine against the eval set
    * reaches `threshold` emit once within the watermark. The eval
    * set is a curated CONSTANT (the PilotVecCap contract), so it
    * ships like the IVF centroids — embedded in the native
    * [[graft.functions.CentroidScores]] expression — and the gate is
    * a NARROW codegen'd projection: zero joins, zero extra shuffles,
    * the only stateful operator is the redelivery dedup. Contrast
    * with the n-gram face, which must explode shingles and
    * semi-join; here a 1000-executor stream scores vectors entirely
    * map-side. Scores use CentroidScores' 6-decimal round (the
    * expression contract) — parity with the batch projection is
    * pinned by DocStreamSpec on the same expression tree. */
  def semContaminatedStream(vecs: DataFrame, evalIds: Array[Long],
                            evalVecs: Array[Array[Double]], threshold: Double,
                            tsCol: String, watermarkDelay: String,
                            vecCol: String = "embedding",
                            idCol: String = "vec_id"): DataFrame =
    vecs
      .select(col(idCol), col(tsCol),
        graft.functions.CentroidScores(col(vecCol), evalIds, evalVecs).as("_s"))
      .select(col(idCol), col(tsCol),
        expr("array_max(transform(_s, x -> x.cs))").as("max_cs"))
      .filter(col("max_cs") >= threshold)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** The END-TO-END streaming training-data ingestion lifecycle:
    * watermark-bounded exact dedup → shared quality verdict → the E2
    * dual merge (delta / content-hash-deduped raw / latest-per-doc),
    * one `AvailableNow` call ≙ one cron-style incremental run. The
    * in-stream dedup collapses redeliveries WITHIN the watermark;
    * the sink's content-hash dedup absorbs re-crawls ACROSS runs —
    * the same two composed idempotence mechanisms as the contacts
    * lifecycle. Rejected docs are persisted too (reject_reason is
    * the audit trail); downstream trainers filter keep = 1. */
  def ingestSink(docs: DataFrame, root: String, table: String,
                 checkpoint: String, tsCol: String, watermarkDelay: String,
                 extractedAt: String,
                 textCol: String = "text",
                 idCol: String = "doc_id"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    EventStream.persistDualSink(
      qualityGated(dedupExactStream(docs, tsCol, watermarkDelay, textCol), textCol),
      root, table, checkpoint, Seq(idCol), tsCol, extractedAt)

  /** Streaming weighted EPOCH MIXING: replicate/downsample incoming
    * docs per their language's mixture weight, via the SHARED copy
    * tree (graft.text.Mixing — the one q_mix_weighted oracle-checks).
    * A pure projection + bounded explode: stateless, zero shuffles,
    * safe at any stream rate — and because the keep/replicate
    * decision is a seed-stamped hash of the doc id, a re-delivered
    * doc mixes identically on every delivery. */
  def mixedStream(docs: DataFrame, seed: String,
                  weightsPermille: Map[String, Int],
                  defaultPermille: Int,
                  langCol: String = "lang",
                  idCol: String = "doc_id"): DataFrame =
    graft.text.Mixing.explodeCopies(docs,
      graft.text.Mixing.epochCopies(col(langCol), col(idCol), seed,
        weightsPermille, defaultPermille))

  /** Streaming SEQUENCE PACKING: assign each incoming doc its offset
    * and context window in its shard's token stream, with the running
    * total carried across micro-batches in per-shard `ValueState`
    * (O(1) per shard — see [[PackProcessor]]). Same shard routing and
    * window arithmetic as the batch q_pack_sequences; requires the
    * RocksDB state store provider like the other transformWithState
    * surfaces. */
  def packedStream(docs: DataFrame, budget: Long, shards: Int,
                   textCol: String = "text",
                   idCol: String = "doc_id"): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).as("doc_id"),
        (col(idCol) % shards).as("shard"),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .as[PackDoc]
      .groupByKey(_.shard)
      .transformWithState(new PackProcessor(budget),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming NEAR-dup dedup (coarse): drop any doc whose 16-bit
    * SimHash signature matches an already-seen doc inside the
    * watermark — the streaming counterpart of the batch SimHash
    * near-dup family, trading the banded pair join (which needs the
    * whole corpus) for signature-equality dedup (O(1) per doc,
    * state = one row per distinct signature in the watermark
    * window). The signature is the PER-ROW fold
    * ([[graft.text.NearDup.rowSimhash16]]) because Spark cannot
    * chain a stateful aggregation into a stateful dedup — a
    * stateless projection chains fine. Equality-of-simhash is the
    * coarsest near-dup verdict (hamming 0); hamming>0 matching
    * stays a batch compaction, like cluster representatives. */
  def nearDupStream(docs: DataFrame, tsCol: String, watermarkDelay: String,
                    textCol: String = "text"): DataFrame =
    docs
      .withColumn("simhash16", graft.text.NearDup.rowSimhash16(
        array_distinct(TextAnalysis.tokens(col(textCol)))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("simhash16")

  /** Streaming PER-SOURCE QUOTA: admit at most `cap` docs per source
    * over the stream lifetime ([[QuotaProcessor]] — one counter per
    * source in `ValueState`, O(1) state). The streaming face of
    * q_cap_per_source's corpus balancing: a hot source stops
    * contributing once its budget is spent, quiet sources keep their
    * headroom forever. */
  def quotaStream(docs: DataFrame, cap: Long,
                  sourceCol: String = "source",
                  idCol: String = "doc_id"): Dataset[AdmittedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"))
      .as[QuotaDoc]
      .groupByKey(_.source)
      .transformWithState(new QuotaProcessor(cap),
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-source streaming heavy hitters: tokenize (the SHARED
    * TextAnalysis.tokens tree), route every token to its source's
    * Misra-Gries(k) sketch, re-emit the source's candidate set each
    * micro-batch. See [[HeavyHitterProcessor]] for the state bound
    * and guarantee. */
  def heavyHittersStream(docs: DataFrame, k: Int,
                         sourceCol: String = "source",
                         textCol: String = "text"): Dataset[HeavyHitter] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .as[TokObs]
      .groupByKey(_.source)
      .transformWithState(new HeavyHitterProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming CURATION sink — the streaming face of
    * `pipeline.Curation`. In-stream (unbounded-safe): watermark-
    * bounded exact dedup + the shared quality verdict, rejects
    * dropped. Per micro-batch, where `foreachBatch` restores batch
    * semantics at the sink boundary: benchmark decontamination
    * REMOVAL (the same broadcast 4-gram join as the batch stage —
    * an in-stream anti would need a stateful per-doc aggregate) and
    * stable split assignment via Mixing.splitAssign (a pure hash of
    * doc_id, so a doc's split never changes across redeliveries or
    * runs), then the E2 dual merge. Near-dup cluster representative
    * selection intentionally stays a batch-side compaction:
    * connected components need the whole graph, not a watermark
    * window of it. */
  def curatedIngestSink(docs: DataFrame, evalShingles: DataFrame,
                        root: String, table: String, checkpoint: String,
                        tsCol: String, watermarkDelay: String,
                        extractedAt: String,
                        textCol: String = "text",
                        idCol: String = "doc_id"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val paths = graft.pipeline.PersistTableDual.Paths(root, table)
    // the curated lake keeps the CALLER's schema (+ split): the gate
    // verdict (n_tokens/reject_reason/keep — constant for survivors)
    // and the dedup fingerprint are in-flight scratch, and persisting
    // them would make the lake unreadable by the batch compaction
    // path (withQualityVerdict reserves those names)
    val inCols = docs.columns.map(col)
    qualityGated(dedupExactStream(docs, tsCol, watermarkDelay, textCol), textCol)
      .filter(col("keep") === 1)
      .select(inCols: _*)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch is read twice below (shingled for the eval join,
        // then anti-joined); without the cache each read re-runs the
        // stateful dedup, loading and committing its state twice
        batch.persist()
        try {
          val bad = graft.text.NearDup
            .shinglesN(batch, idCol, textCol, 4, distinct = false)
            .join(broadcast(evalShingles.select("sh")), Seq("sh"))
            .select(idCol).distinct()
          val clean = batch.join(bad, Seq(idCol), "left_anti")
            .withColumn("split", graft.text.Mixing.splitAssign("split1", col(idCol)))
          graft.pipeline.PersistTableDual.persist(
            batch.sparkSession, paths, clean, s"batch_$batchId",
            extractedAt, Seq(idCol), tsCol)
        } finally batch.unpersist()
        ()
      }
  }

  /** Corpus intake dashboard: per event-time window — arrivals,
    * docs surviving the quality gate, token volume. Composes the
    * shared gate with a watermarked tumbling aggregate. */
  def corpusStatsWindowed(docs: DataFrame, tsCol: String,
                          windowLen: String, watermarkDelay: String,
                          textCol: String = "text"): DataFrame =
    qualityGated(docs, textCol)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_kept"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("window.start").as("window_start"),
        col("n_docs"), col("n_kept"), col("n_tokens"))
}
