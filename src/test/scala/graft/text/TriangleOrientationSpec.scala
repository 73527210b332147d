package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTesting
import graft.queries.QDef

/** Degeneracy (low-degree-first) orientation for triangle counting
  * (VERDICT r10 "What's wrong" #2): the mechanical check that a
  * high-degree hub's join fan-out is bounded by the ORIENTED
  * out-degree, not its raw degree, and that the triangle counts the
  * oriented two-join produces are orientation-invariant. */
class TriangleOrientationSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark
  import spark.implicits._

  /** the pre-r11 id-only (a<b) oriented two-join — the exactness
    * reference the degeneracy plan must reproduce */
  private def idOrientedCounts(und: org.apache.spark.sql.DataFrame) = {
    val e = und
    val tri = e.select($"doc_a".as("a"), $"doc_b".as("b"))
      .join(e.select($"doc_a".as("b"), $"doc_b".as("c")), "b")
      .join(e.select($"doc_a".as("a"), $"doc_b".as("c")), Seq("a", "c"))
    tri.select($"a".as("doc_id"))
      .unionAll(tri.select($"b".as("doc_id")))
      .unionAll(tri.select($"c".as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
  }

  test("star hub: oriented out-degree is O(1) where raw degree is 100") {
    // hub 0 — leaves 1..100, plus leaf-leaf edge (1,2) closing one
    // triangle. Raw degree(0) = 100; every hub edge must flip to
    // point INTO the hub (leaves have degree 1–2), so no node fans
    // out more than 2 in the oriented edge set.
    val und = ((1L to 100L).map(l => (0L.min(l), 0L.max(l))) :+ (1L, 2L))
      .toDF("doc_a", "doc_b")
    val outDeg = NearDup.orientByDegree(und)
      .groupBy("src").agg(count(lit(1)).as("od"))
    val maxOut = outDeg.agg(max("od")).as[Long].head()
    assert(maxOut <= 2L,
      s"hub fan-out must be bounded by oriented out-degree, got $maxOut")
    // and the hub itself never appears as a source
    assert(outDeg.filter($"src" === 0L).count() == 0L)
  }

  test("triangle counts are orientation-invariant (star + K4 fixture)") {
    // component A: star 0—(1..100) with (1,2) → one triangle {0,1,2}
    // component B: K4 on 200..203 → four triangles, each node in 3
    val star = (1L to 100L).map(l => (0L, l)) :+ (1L, 2L)
    val k4 = for {
      a <- 200L to 203L; b <- 200L to 203L if a < b
    } yield (a, b)
    val und = (star ++ k4).toDF("doc_a", "doc_b")
    QDef.withCacheRelease(spark, NearDup.triangleSupport(und)) { tri =>
      val got = tri.orderBy("doc_id").as[(Long, Long)].collect().toSeq
      val ref = idOrientedCounts(und)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      assert(got == ref, "degeneracy orientation must not change counts")
      assert(got == Seq((0L, 1L), (1L, 1L), (2L, 1L),
        (200L, 3L), (201L, 3L), (202L, 3L), (203L, 3L)))
    }
  }

  test("deep chain: no triangles, orientation total over ties") {
    // a pure path (every degree ≤ 2, all internal ties) — the
    // tie-break must stay a total order so each edge appears exactly
    // once in the oriented set
    val und = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assert(NearDup.orientByDegree(und).count() == 49L)
    QDef.withCacheRelease(spark, NearDup.triangleSupport(und)) { tri =>
      assert(tri.count() == 0L)
    }
  }
}
