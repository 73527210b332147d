package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTesting
import graft.queries.QDef
import graft.text.{NearDup, TextAnalysis => TA}

/** Lifecycle invariants for the composed curation pipeline that the
  * per-stage DuckDB oracle (q_curate_audit) cannot express: stage
  * monotonicity, idempotence (curating a curated corpus is the
  * identity), and that swapping the exact-Jaccard pair generator for
  * the LSH scale path preserves the lifecycle's structural
  * guarantees. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark

  private def docs = Tables.t(spark, SparkTesting.sf, "documents")

  private def exactEdges(ex: DataFrame): DataFrame =
    NearDup.tokenJaccardPairs(
      ex.select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok")).distinct(),
      "doc_id", "tok", 6)
      .filter(col("near_dup") === 1).select("doc_a", "doc_b")

  private def lshEdges(ex: DataFrame): DataFrame = {
    val tok = ex.select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok")).distinct()
    val sigs = NearDup.minhashSignatures(tok, "doc_id", "tok", 8)
    NearDup.lshCandidatePairs(NearDup.lshBands(sigs, "doc_id", 8, 2), "doc_id")
  }

  /** Runs a test body through QDef.withCacheRelease, the one release
    * point for the stages' snapshots. */
  private def released[T](body: => T): T =
    QDef.withCacheRelease(spark, spark.emptyDataFrame)(_ => body)

  private def curated(edge: DataFrame => DataFrame = exactEdges) =
    Curation.curate(
      docs.filter(col("doc_id") % 13 === 0),
      docs.filter(col("doc_id") % 50 === 0),
      edge)

  test("stage counts are monotone non-increasing through the lifecycle") {
    released {
      val st = curated()
      val counts = Seq(st.raw, st.quality, st.exactDeduped, st.reps, st.clean)
        .map(_.count())
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
        s"each stage only removes docs: $counts")
      assert(counts.last > 0, "the lifecycle must not empty the corpus")
      assert(st.split.count() == st.clean.count(),
        "split assignment is a projection, not a filter")
    }
  }

  test("curation is idempotent: re-curating the clean corpus changes nothing") {
    released {
      val first = curated()
      val again = Curation.curate(first.clean,
        docs.filter(col("doc_id") % 50 === 0), exactEdges)
      val n = first.clean.count()
      assert(again.quality.count() == n, "survivors still pass the quality gate")
      assert(again.exactDeduped.count() == n, "no exact dupes remain")
      assert(again.reps.count() == n,
        "cluster reps are pairwise non-near-dup, so they re-cluster as singletons")
      assert(again.clean.count() == n, "nothing left to decontaminate")
    }
  }

  test("the LSH scale path preserves the lifecycle's structural guarantees") {
    released {
      val ex = curated()
      val lsh = curated(lshEdges)
      // identical up to the pair generator
      assert(lsh.exactDeduped.count() == ex.exactDeduped.count())
      // NOT asserted: reps(lsh) <= reps(exact). Banding is
      // probabilistic in BOTH directions — it merges false-positive
      // band collisions AND misses true near-dup pairs (a J=0.6 pair
      // shares one of 4 two-row bands w.p. ≈0.83) — so neither count
      // bounds the other. The structural guarantees that DO hold:
      val repIds = lsh.reps.select("doc_id")
      assert(repIds.count() > 0)
      assert(repIds.join(lsh.exactDeduped.select("doc_id"), "doc_id").count()
        == repIds.count(), "reps are drawn from the exact-deduped corpus")
      assert(lsh.clean.count() > 0)
      // split labels for common survivors agree (the split rule is a
      // pure function of doc_id, independent of the edge strategy)
      val disagree = lsh.split.select(col("doc_id"), col("split").as("s1"))
        .join(ex.split.select(col("doc_id"), col("split").as("s2")), "doc_id")
        .filter(col("s1") =!= col("s2")).count()
      assert(disagree == 0)
    }
  }
}
