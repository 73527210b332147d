package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.RunPipeline
import graft.sources.FixtureBackend

/** The batch lifecycle: `runFull` on an empty lake with 120 fixture
  * contacts and two seed contacts the seed picks, on a fresh lake each
  * round. `stageHook` stamps every stage; a traced run walks the lake
  * it wrote. */
final class LifecycleWorkload(spark: SparkSession, opts: Opts, tracer: Option[Tracer])
    extends Workload {

  // 8% of the sf0.01 customers, 80% of its event users
  private val n = 120
  private val seedIds: Seq[Long] = {
    val rng = new scala.util.Random(opts.seed)
    Iterator.continually(rng.nextInt(n).toLong).distinct.take(2).toList.sorted
  }
  private val seedEmails = seedIds.map(i => s"row#$i@x.test")
  private val nowUtc = "2026-08-01T00:00:00Z"

  private val opTimes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
  private var attempted, failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val lakes = mutable.ArrayBuffer.empty[Map[String, Any]]
  // traced: per round, the run's layer figures
  private val layers = mutable.ArrayBuffer.empty[Map[String, Double]]

  def setUp(): Unit = ()

  def round(i: Int): Double = {
    val root = s"${opts.work}/lake_$i"
    attempted += 1
    val hooks = mutable.ArrayBuffer.empty[(String, Long)]
    FixtureBackend.reset()
    val t0 = System.nanoTime()
    try {
      val rep = RunPipeline.runFull(spark, root, opts.lake, totalRows = n, nowUtc = nowUtc,
        seedEmails = seedEmails, stageHook = t => hooks += (t -> System.nanoTime()))
      val t1 = System.nanoTime()
      val fetched = FixtureBackend.fetches.get()
      lakes += Map("lake" -> root, "run_id" -> rep.runId, "resolved_seeds" -> rep.resolvedSeeds)
      if (tracer.isDefined) {
        val written = Harness.walk(Paths.get(root))
        layers += (Map(
          "to_first_stage_s" -> (hooks.head._2 - t0) / 1e9,
          "stages_s" -> (hooks.last._2 - hooks.head._2) / 1e9,
          "mart_s" -> (t1 - hooks.last._2) / 1e9,
          "rows_rewritten" -> rep.persisted.values.map { case (r, l) => r + l }.sum.toDouble,
          "files_written" -> written.size.toDouble,
          "bytes_written_mb" -> written.map(Files.size).sum / 1048576.0,
          "pages_fetched" -> fetched.toDouble) ++
          hooks.zip(hooks.drop(1)).map { case ((_, a), (t, b)) => s"stage.${t}_s" -> (b - a) / 1e9 })
      }
      val s = (t1 - t0) / 1e9
      opTimes += Seq("runFull" -> s)
      s
    } catch { case e: Throwable =>
      failed += 1
      errors += s"round $i: ${e.getMessage}".take(400)
      opTimes += Nil
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Delta rows each traced run wrote (runs/<run_id>/delta/...). */
  private def deltaRows(root: String, runId: String): Long = {
    val d = Paths.get(s"$root/runs/$runId/delta")
    if (!Files.isDirectory(d)) 0L
    else Files.list(d).toArray.map(p => spark.read.parquet(p.toString).count()).sum
  }

  def finish(): Outcome = {
    // delta sizes are read here, after the timed window
    lakes.zip(layers).zipWithIndex.foreach { case ((f, l), i) =>
      val d = deltaRows(f("lake").toString, f("run_id").toString).toDouble
      layers(i) = l ++ Map("delta_rows" -> d, "rewrite_per_delta" -> l("rows_rewritten") / d)
    }
    val detail = layers.flatMap(_.keys).distinct.map(k =>
      s"lifecycle.initial.$k" -> Harness.median(layers.flatMap(_.get(k)).toSeq)).toMap
    Outcome(opTimes.toList, attempted, failed, errors.toList, detail,
      Map("n" -> n, "seed_ids" -> seedIds, "rounds" -> lakes.toList))
  }
}
