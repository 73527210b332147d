package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries._

/** A fixed sample of registered queries. Each timed operation builds
  * the query, plans it and fully evaluates it by writing every output
  * row as parquet (as graft.Verify hands outputs to the oracle, without
  * its coalesce to one file); what it wrote is what the DuckDB oracle
  * compare reads. No output row is collected into the JVM. The seed shuffles
  * the order the sample runs in. Set-up is graft.Bench's warm-up. */
final class QueriesWorkload(spark: SparkSession, opts: Opts, tracer: Option[Tracer])
    extends Workload {

  private val registry = SparkEntry.queries
  private val sample: Seq[String] =
    Files.readAllLines(Paths.get(opts.str("sample"))).asScala.toList
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  private val unknown = sample.filterNot(registry.contains)
  require(unknown.isEmpty, s"sampled queries not in the registry: ${unknown.mkString(", ")}")
  private val order = new scala.util.Random(opts.seed).shuffle(sample)

  private val family: Map[String, String] = Seq(
    "core" -> CoreQueries.all, "text" -> TextQueries.all, "sim" -> SimQueries.all,
    "trainprep" -> TrainPrepQueries.all, "analytics" -> AnalyticsQueries.all,
    "graphstat" -> GraphStatQueries.all, "rel" -> RelQueries.all)
    .flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  private val outDir = s"${opts.work}/outputs"
  private val opTimes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
  private val attempts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val failures = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val errors = mutable.LinkedHashMap.empty[String, String]
  // traced split per query: build, plan, exec seconds and eager jobs
  private final case class Split(build: Double, plan: Double, exec: Double, jobs: Long)
  private val splits = mutable.Map.empty[String, mutable.ArrayBuffer[Split]]
  private val census = mutable.Map.empty[String, Census]

  def setUp(): Unit = {
    // graft.Bench's warm-up: codegen, JIT and the parquet footer paths
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
      .foreach(n => spark.read.parquet(s"${opts.lake}/$n.parquet").limit(1).count())
    val oracle = sample.map(n => n -> SparkEntry.oracleSql.get(n)).toMap
    Files.writeString(Paths.get(s"${opts.work}/oracle.json"), Harness.json(oracle))
  }

  private def jobsSoFar(t: Tracer): Long = t.snapshot().jobs

  def round(i: Int): Double = {
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    order.foreach { name =>
      attempts(name) += 1
      val jobs0 = tracer.map(jobsSoFar).getOrElse(0L)
      val t0 = System.nanoTime()
      var tBuilt, tPlanned, tEnd = 0L
      var buildJobs = 0L
      try QDef.withCacheRelease(spark, registry(name)(spark, opts.lake)) { out =>
        tBuilt = System.nanoTime()
        buildJobs = tracer.map(jobsSoFar).getOrElse(0L) - jobs0
        // the job-count read drains the listener bus; keep it out of
        // the timing by shifting the later marks back
        val drain = System.nanoTime() - tBuilt
        val plan = out.queryExecution.executedPlan
        tPlanned = System.nanoTime() - drain
        out.write.parquet(s"$outDir/$i/$name")
        tEnd = System.nanoTime() - drain
        if (tracer.isDefined && i == 0) census(name) = Census.of(plan)
      } catch { case e: Throwable =>
        failures(name) += 1
        errors.getOrElseUpdate(name, s"round $i: ${e.getMessage}".take(400))
      }
      if (tEnd > 0) {
        times += (name -> (tEnd - t0) / 1e9)
        if (tracer.isDefined)
          splits.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
            Split((tBuilt - t0) / 1e9, (tPlanned - tBuilt) / 1e9, (tEnd - tPlanned) / 1e9,
              buildJobs)
      }
    }
    opTimes += times.toList
    times.map(_._2).sum
  }

  def finish(): Outcome = {
    val rounds = opTimes.size.toDouble
    val detail: Map[String, Any] = if (tracer.isEmpty) Map.empty else {
      val all = splits.values.flatten
      val fams = family.values.toSeq.distinct.sorted
      val perFamily = fams.map { f =>
        s"queries.$f.exec_s" -> splits.collect { case (n, s) if family(n) == f => s.map(_.exec).sum }
          .sum / rounds
      }
      val c = census.values.foldLeft(Census.zero)(_ + _)
      Map(
        "queries.build_s" -> all.map(_.build).sum / rounds,
        "queries.build_jobs" -> all.map(_.jobs).sum / rounds,
        "queries.plan_s" -> all.map(_.plan).sum / rounds,
        "queries.exec_s" -> all.map(_.exec).sum / rounds,
        "queries.physical_plan.scans" -> c.scans,
        "queries.physical_plan.exchanges" -> c.exchanges,
        "queries.physical_plan.reused_exchanges" -> c.reused,
        "queries.physical_plan.nodes" -> c.nodes,
        "queries.per_query" -> splits.toSeq.sortBy(_._1).map { case (n, s) =>
          n -> Map("family" -> family(n),
            "s" -> Harness.median(s.map(x => x.build + x.plan + x.exec).toSeq),
            "build_s" -> Harness.median(s.map(_.build).toSeq),
            "plan_s" -> Harness.median(s.map(_.plan).toSeq),
            "exec_s" -> Harness.median(s.map(_.exec).toSeq),
            "build_jobs" -> s.head.jobs,
            "census" -> census.get(n).map(c => Map("scans" -> c.scans,
              "exchanges" -> c.exchanges, "reused_exchanges" -> c.reused, "nodes" -> c.nodes)))
        }.toMap) ++ perFamily
    }
    Outcome(opTimes.toList, attempts.values.sum, failures.values.sum,
      errors.toSeq.map { case (n, e) => s"$n: $e" }, detail,
      Map("outputs" -> (0 until opTimes.size).map(i => s"$outDir/$i"),
        "oracle" -> s"${opts.work}/oracle.json",
        "attempts" -> attempts.toMap, "failures" -> failures.toMap))
  }
}
