package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Query paths hold an intermediate one way only: [[QDef.snap]],
  * freed by [[QDef.withCacheRelease]]. A catalog-cached
  * persist()/cache() keeps the whole upstream lineage in every
  * consumer's plan (q_triangle_support once executed 426 parquet scans
  * over cached blocks) and escapes that release, so this spec fails on
  * any `.persist(` or `.cache(` in the query-path sources. The
  * lifecycle's and the stream sinks' own caches (RunPipeline,
  * DocStream) are not query paths and are not scanned. */
class MaterializationBanSpec extends AnyFunSuite {
  private val root = Paths.get("src", "main", "scala", "graft")
  private val scanned = Seq("queries", "text", "sim", "ops", "functions",
    "multimodal", "pipeline/Curation.scala")

  /** (file under graft/, trimmed source line) of the one allowed site:
    * NearDup.connectedComponents' reliable-checkpoint round. An RDD
    * `checkpoint()` writes its files by recomputing the RDD after the
    * materializing job, so the round is persisted first and the
    * checkpoint write reads the stored blocks instead of re-running
    * the round. */
  private val allowed = ("text/NearDup.scala",
    "rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)")

  private val banned = """\.(persist|cache)\(""".r

  private def sources: Seq[Path] = scanned.map(root.resolve).flatMap { p =>
    assert(Files.exists(p), s"scanned path $p is missing (run from the repo root)")
    val s = Files.walk(p)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  test("no persist()/cache() on the query paths except the checkpoint round") {
    val files = sources
    val hits = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield (rel, line.trim, i + 1)
    assert(files.exists(_.endsWith("QDef.scala")), "the scan must see the query registry")
    val offenders = hits.filterNot(h => (h._1, h._2) == allowed)
    assert(offenders.isEmpty, "use QDef.snap, freed by QDef.withCacheRelease: " +
      offenders.map { case (f, l, n) => s"$f:$n $l" }.mkString("; "))
    assert(hits.count(h => (h._1, h._2) == allowed) == 1,
      s"the allowed site moved or is gone; update the allow-list: $allowed")
  }
}
