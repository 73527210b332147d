package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress, Trigger}

import graft.streaming.{ContactEvent, DocStream, EventStream}

/** Two AvailableNow drains per round, each from a fresh checkpoint:
  * the staged document feed through `DocStream.curatedIngestSink`, and
  * the staged event feed through `EventStream.funnelChangelogStream`
  * into a parquet changelog. Both read `maxFilesPerTrigger` files per
  * micro-batch and keep state in RocksDB. The seed picks the eval-set
  * residue for decontamination and which feed file each event lands
  * in. */
final class StreamWorkload(spark: SparkSession, opts: Opts, tracer: Option[Tracer])
    extends Workload {
  import spark.implicits._

  private val feeds = s"${opts.work}/feeds"
  // each feed is split into this many files and drained this many
  // files per micro-batch
  private val files = 4
  private val filesPerTrigger = 2
  private val evalResidue = (opts.seed % 211 + 211) % 211
  private var evalShingles: DataFrame = _
  private var nDocs, nEvents = 0L

  private val opTimes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
  private var attempted, failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val layers = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Double]]]

  def setUp(): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // documents on a monotone event clock (one doc per second by
    // doc_id), range-split so every file is on time for the watermark
    val docs = spark.read.parquet(s"${opts.lake}/documents.parquet")
      .withColumn("ingest_ts", (lit(1704067200L) + col("doc_id")).cast("timestamp"))
    docs.repartitionByRange(files, col("doc_id")).write.parquet(s"$feeds/docs")
    arriveInOrder(s"$feeds/docs")
    nDocs = spark.read.parquet(s"$feeds/docs").count()
    evalShingles = graft.text.NearDup.shinglesN(
      docs.filter(col("doc_id") % 211 === evalResidue).select("doc_id", "text"),
      "doc_id", "text", 4).select("sh").cache()
    evalShingles.count()
    // events as ContactEvent, each in the file the seed hashes it to
    graft.pipeline.Tables.t(spark, opts.lake, "events")
      .select(col("user_id").as("contact_id"), col("event_id"),
        col("ts").as("event_ts"), col("event_type"))
      .withColumn("_f", pmod(xxhash64(col("event_id"), lit(opts.seed)), lit(files)))
      .repartitionByRange(files, col("_f"), col("event_id")).drop("_f")
      .write.parquet(s"$feeds/events")
    arriveInOrder(s"$feeds/events")
    nEvents = spark.read.parquet(s"$feeds/events").count()
  }

  /** Files written by parallel tasks share a modification time, and the
    * file source orders a micro-batch's files by it: stamp the parts one
    * second apart in part order, as files dropped into a feed over time
    * would be, so every drain splits the feed into the same batches. */
  private def arriveInOrder(dir: String): Unit =
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
      .zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(1767225600000L + i * 1000L))
      }

  private def feed(name: String): DataFrame = spark.readStream
    .schema(spark.read.parquet(s"$feeds/$name").schema)
    .option("maxFilesPerTrigger", filesPerTrigger.toString)
    .parquet(s"$feeds/$name")

  private def drainIngest(dir: String): Unit = {
    val q = DocStream.curatedIngestSink(feed("docs"), evalShingles,
      s"$dir/lake", "docs", s"$dir/ckpt_ingest", "ingest_ts", "10 minutes",
      extractedAt = "2026-01-01T00:00:00Z").start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  private def drainFunnel(dir: String): Unit = {
    val sink = s"$dir/funnel_changelog"
    val q = EventStream.funnelChangelogStream(feed("events").as[ContactEvent])
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$dir/ckpt_funnel")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.FunnelChange],
                       batchId: Long) =>
        batch.toDF().withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(sink)
        ()
      }
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  private def phases(ps: Seq[StreamingQueryProgress], rows: Long, wall: Double,
                     engine: Option[Engine]): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    val state = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    Map(
      "batches" -> ps.size.toDouble,
      "batch_p50_s" -> Harness.median(ps.map(d(_, "triggerExecution"))),
      "add_batch_s" -> ps.map(d(_, "addBatch")).sum,
      "planning_s" -> ps.map(d(_, "queryPlanning")).sum,
      "offsets_s" -> ps.map(p => Seq("latestOffset", "getBatch", "walCommit", "commitOffsets")
        .map(d(p, _)).sum).sum,
      "state_rows_max" -> state.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max),
      "state_mem_mb_max" -> state.map(_.memoryUsedBytes / 1048576.0).foldLeft(0.0)(math.max),
      "rows_per_s" -> rows / wall) ++
      engine.map(e => Map("files_written" -> e.filesWritten.toDouble)).getOrElse(Map.empty)
  }

  def round(i: Int): Double = {
    val dir = s"${opts.work}/round_$i"
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    // the checks look only at drains that returned
    Seq[(String, String => Unit, Long)](("ingest", drainIngest, nDocs),
      ("funnel", drainFunnel, nEvents)).foreach { case (name, drain, rows) =>
      attempted += 1
      tracer.foreach(_.takeProgress())
      val e0 = tracer.map(_.snapshot())
      val t0 = System.nanoTime()
      try {
        drain(dir)
        val s = (System.nanoTime() - t0) / 1e9
        times += (name -> s)
        tracer.foreach { t =>
          val e = t.snapshot() - e0.get
          layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
            phases(t.takeProgress(), rows, s, Some(e))
        }
      } catch { case e: Throwable =>
        failed += 1
        errors += s"round $i $name: ${e.getMessage}".take(400)
      }
    }
    drains += Map("drained" -> times.map(_._1).toList,
      "ingest_lake" -> s"$dir/lake/master/latest/docs",
      "funnel_changelog" -> s"$dir/funnel_changelog")
    opTimes += times.toList
    times.map(_._2).sum
  }

  def finish(): Outcome = {
    val detail: Map[String, Any] = layers.toSeq.flatMap { case (name, rs) =>
      rs.flatMap(_.keys).distinct.map(k =>
        s"stream.$name.$k" -> Harness.median(rs.flatMap(_.get(k)).toSeq))
    }.toMap
    Outcome(opTimes.toList, attempted, failed, errors.toList, detail,
      Map("docs_feed" -> s"$feeds/docs", "events_feed" -> s"$feeds/events",
        "eval_residue" -> evalResidue, "n_docs" -> nDocs, "n_events" -> nEvents,
        "funnel_oracle" -> graft.SparkEntry.oracleSql("q_funnel_steps"),
        "rounds" -> drains.toList))
  }
}
