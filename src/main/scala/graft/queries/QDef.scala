package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator query: the Spark plan and (when
  * ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the driver
  * hash-compares against (SURVEY.md §5). `oracle = None` → driver
  * records a weaker rows-only check. */
final case class QDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object QDef {
  /** Run one query's action, then free every in-query snapshot.
    *
    * A query holds an intermediate one way only: [[snap]], inside the
    * query (MaterializationBanSpec keeps persist()/cache() off the
    * query paths). Snapshot blocks persist the underlying RDD
    * directly, outside the catalog cache, so nothing else frees them:
    * a 423-query sweep would accumulate every query's snapshots until
    * the ContextCleaner's GC-driven reclaim happens to run. Every
    * harness main (Bench, Verify, ExplainOne) routes its per-query
    * action through here, and library consumers executing
    * `SparkEntry.queries` directly should do the same after each
    * action: once it returns, nothing re-executes the frame. */
  def withCacheRelease[T](spark: SparkSession, df: => DataFrame)(action: DataFrame => T): T =
    try action(df)
    finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Lazy local-checkpoint SNAPSHOT of a deterministic intermediate:
    * materializes on first use and — unlike persist() — TRUNCATES the
    * plan lineage to the stored blocks. For unrolled iterative
    * operators (q_pagerank_iter, q_kcore_peel, q_hits_scores) the
    * truncation is the point: without it every iteration re-embeds
    * the full upstream subtree, the executed plan grows to hundreds
    * of scans (q_kcore_peel's r18 before-plan: 142 parquet scans,
    * 5k formatted lines), and AQE replans the whole tree per stage —
    * fixed overhead that dwarfs the data work at every SF (guide
    * §1.2 step 1, §3.3 "materialising an intermediate truncates the
    * plan"; the NearDup CC loop's r17 discipline applied to the
    * unrolled-plan family). In-query materialization recomputed per
    * run — NOT cross-run caching; blocks are freed centrally by
    * [[withCacheRelease]] after each query's action. */
  def snap(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
}
