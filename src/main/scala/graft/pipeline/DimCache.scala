package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths => JPaths}
import java.time.Instant

/** Dimension cache with TTL refresh — `load_or_refresh_dim`
  * (run_ac_extraction.py:335-384): dims live at
  * `dimsRoot/<dim>/` (parquet) + `dimsRoot/<dim>.meta.json` holding
  * the fetch stamp, and are refetched only when the cache is absent
  * or older than `ttlDays`.
  *
  * The clock is a parameter so TTL behavior is testable without
  * sleeping; production callers pass `Instant.now()`. A source whose
  * backing resource is missing should hand in a fetch returning an
  * empty frame (the DSv2 PagedSource already maps 404→empty — S7),
  * which is cached like any other result, mirroring the reference's
  * "some accounts lack /scores — don't break the pipeline" branch
  * (:375-382).
  *
  * Scale: dims are dimension-sized by definition — the cache read is
  * a broadcast-side input, never a fact scan; the refresh write is a
  * small overwrite. State (the meta stamp) is O(1) driver-side JSON,
  * exactly like the keyset watermark.
  */
object DimCache {

  private val FetchedRe = """"fetched_at_utc"\s*:\s*"([^"]*)"""".r

  final case class Meta(fetchedAtUtc: Instant)

  private def metaPath(dimsRoot: String, dim: String) =
    JPaths.get(dimsRoot, s"$dim.meta.json")

  private def dataPath(dimsRoot: String, dim: String) =
    JPaths.get(dimsRoot, dim)

  /** None = absent OR unparseable: a garbage stamp must force a
    * refetch (reference :361-364), never be trusted as fresh. */
  def loadMeta(dimsRoot: String, dim: String): Option[Meta] = {
    val p = metaPath(dimsRoot, dim)
    if (!Files.exists(p)) None
    else
      FetchedRe.findFirstMatchIn(Files.readString(p)).flatMap { m =>
        try Some(Meta(Instant.parse(m.group(1))))
        catch { case _: java.time.format.DateTimeParseException => None }
      }
  }

  private def saveMeta(dimsRoot: String, dim: String, now: Instant): Unit =
    AtomicFile.write(metaPath(dimsRoot, dim),
      s"""{"fetched_at_utc": "$now", "dim": "$dim"}""")

  /** Serve the cached dim if present and younger than `ttlDays`,
    * else call `fetch`, persist its result, and serve that. Both
    * branches return the ON-DISK copy, so callers always see exactly
    * what the next run will. */
  def loadOrRefreshDim(spark: SparkSession, dimsRoot: String, dim: String,
                       fetch: () => DataFrame, ttlDays: Int,
                       now: Instant): DataFrame = {
    val data = dataPath(dimsRoot, dim)
    val fresh = Files.exists(data) && loadMeta(dimsRoot, dim).exists { m =>
      java.time.Duration.between(m.fetchedAtUtc, now).toDays < ttlDays
    }
    if (!fresh) {
      fetch().write.mode("overwrite").parquet(data.toString)
      saveMeta(dimsRoot, dim, now)
    }
    spark.read.parquet(data.toString)
  }

  /** The reference's `load_all_dims` (run_ac_extraction.py:390-407):
    * every dimension collection in the endpoint catalog through the
    * TTL cache, each fetch one [[graft.sources.PagedSource]] read
    * rendered from its catalog row. A dim the account lacks (404,
    * e.g. `/scores`) caches as an EMPTY frame instead of breaking the
    * pipeline — the connector's 404→empty rule composing with the
    * cache exactly mirrors :375-382. */
  def loadAcDims(spark: SparkSession, dimsRoot: String, apiBase: String,
                 ttlDays: Int, now: Instant): Map[String, DataFrame] =
    graft.sources.AcEndpoints.dims.map { ep =>
      ep.name -> loadOrRefreshDim(spark, dimsRoot, ep.name,
        () => spark.read.format("graft.sources.PagedSource")
          .options(ep.readOptions(apiBase)).load(),
        ttlDays, now)
    }.toMap
}
