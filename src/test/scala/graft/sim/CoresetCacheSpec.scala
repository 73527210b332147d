package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTesting}
import graft.queries.QDef

/** Pins q_coreset_fps's snapshot lifecycle: the builder snapshots its
  * two round tables (d1, d2) so the k-pass FPS bound is a fact rather
  * than an exchange-reuse hope, and QDef.withCacheRelease, the one
  * release point, frees them after the action — otherwise ~2N
  * (id, vec, dist) blocks pin storage memory for the whole
  * Verify/Bench session. */
class CoresetCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark

  test("q_coreset_fps leaves no persistent RDDs behind and still " +
      "returns the 3 materialized summary rows") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = QDef.withCacheRelease(spark,
      SparkEntry.queries("q_coreset_fps")(spark, SparkTesting.sf))(_.collect())
    assert(rows.length === 3, s"expected 3 FPS rounds, got ${rows.length}")
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // picks are distinct vectors and round-1 distance is 0 by seeding
    assert(rows.map(_.getLong(1)).distinct.length === 3)
    assert(rows(0).getLong(2) === 0L)
    // coverage radius is non-increasing as centers are added
    val covMax = rows.map(_.getLong(3))
    assert(covMax(0) >= covMax(1) && covMax(1) >= covMax(2),
      s"cover_max must shrink with more centers: ${covMax.toSeq}")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"query leaked cached RDDs: ids ${(after -- before).toSeq.sorted}")
  }
}
