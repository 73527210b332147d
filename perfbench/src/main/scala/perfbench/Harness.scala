package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload hands back: per round, each operation's name and
  * seconds; the
  * operations it attempted and the ones that threw, the workload's
  * own layer figures (traced runs only) and the facts the oracle
  * checks need. */
final case class Outcome(opTimes: Seq[Seq[(String, Double)]], attempted: Long, failed: Long,
                         errors: Seq[String], detail: Map[String, Any], checks: Map[String, Any])

/** Options passed by run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      lake: String, work: String, out: String, args: Map[String, String]) {
  def str(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
}

/** One workload in one JVM: set up, run whole rounds of the
  * workload's operations until `seconds` have been measured, then
  * write the figures and check facts to `--out` for run.py. */
object Harness {

  /** Timing shared by all workloads: the first timed operation's
    * start (for setup_s) and the round walls. */
  final class Clock {
    val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
    var firstOpMs: Long = -1L
    def markFirstOp(): Unit = if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()
    def setupS: Double = (firstOpMs - jvmStartMs) / 1000.0
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("lake"), kv("work"), kv("out"), kv)
  }

  /** Run whole rounds until their timed operations add up to at least
    * `seconds`, and at least `minRounds` of them. Returns each round's
    * timed seconds. */
  def rounds(seconds: Double, minRounds: Int)(round: Int => Double): Seq[Double] = {
    val timed = mutable.ArrayBuffer.empty[Double]
    while (timed.size < minRounds || timed.sum < seconds) timed += round(timed.size)
    timed.toList
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList finally st.close()
    }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s => quote(s.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Engine layer figures for the timed window, per round. */
  def engineLayers(e: Engine, timedS: Double, nRounds: Int): Map[String, Double] = {
    val r = nRounds.toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "between_jobs_s" -> (timedS - e.jobBusyMs / 1e3) / r,
      "jobs_s" -> e.jobBusyMs / 1e3 / r,
      "spark.jobs" -> e.jobs / r,
      "spark.stages" -> e.stages / r,
      "spark.tasks" -> e.tasks / r,
      "spark.tasks_per_stage" -> (if (e.stages == 0) 0.0 else e.tasks.toDouble / e.stages),
      "spark.task_s" -> e.taskMs / 1e3 / r,
      "spark.cpu_s" -> e.cpuNs / 1e9 / r,
      "spark.gc_s" -> e.gcMs / 1e3 / r,
      "spark.cores_busy" -> e.taskMs / 1e3 / timedS,
      "spark.shuffle_write_mb" -> e.shuffleWrite / mb / r,
      "spark.shuffle_read_mb" -> e.shuffleRead / mb / r,
      "spark.spill_mb" -> e.spill / mb / r,
      "spark.input_mb" -> e.input / mb / r,
      "spark.output_mb" -> e.output / mb / r,
      "spark.files_written" -> e.filesWritten / r,
      "sql.executions" -> e.sqlExecs / r,
      "plan.scans" -> e.census.scans / r,
      "plan.exchanges" -> e.census.exchanges / r,
      "plan.reused_exchanges" -> e.census.reused / r,
      "plan.nodes" -> e.census.nodes / r)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val clock = new Clock
    val spark = graft.Sessions.local("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(opts.work))
    val tracer = if (opts.trace) Some(new Tracer(spark)) else None
    val workload: Workload = opts.workload match {
      case "queries" => new QueriesWorkload(spark, opts, tracer)
      case "lifecycle" => new LifecycleWorkload(spark, opts, tracer)
      case "stream" => new StreamWorkload(spark, opts, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    workload.setUp()
    clock.markFirstOp()
    val before = tracer.map(_.snapshot())
    val walls = rounds(opts.seconds, 1)(workload.round)
    val engine = tracer.map(t => t.snapshot() - before.get)
    val outcome = workload.finish()
    // one figure per operation: its median over the rounds
    val perOp = outcome.opTimes.flatten.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq
    val e2e = Map(
      "setup_s" -> clock.setupS,
      "wall_s" -> median(walls),
      "op_p50_s" -> median(perOp),
      "op_p90_s" -> quantile(perOp, 0.9))
    val layers = engine.map(engineLayers(_, walls.sum, walls.size)).getOrElse(Map.empty)
    val out = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      "rounds" -> walls.size, "round_walls_s" -> walls,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "errors" -> outcome.errors, "e2e" -> e2e, "layers" -> layers,
      "detail" -> outcome.detail, "checks" -> outcome.checks)
    Files.writeString(Paths.get(opts.out), json(out))
    spark.stop()
  }
}

/** A workload: set-up before the clock starts, whole rounds inside
  * the measured window, and a finish that may do untimed work for the
  * checks. */
trait Workload {
  def setUp(): Unit
  /** One round; returns the seconds its timed operations took. */
  def round(i: Int): Double
  def finish(): Outcome
}
