package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.Ops._

/** E2 `persist_table_dual` (run_ac_extraction.py:134-188), the merge
  * path every extracted table flows through, re-expressed as one
  * Spark job over a parquet lake:
  *
  *   delta(+lineage) → write runs/<runId>/delta/<table>
  *   raw' = dedup_by_content_hash(raw ∪ delta)  → rewrite master/raw
  *   latest = latest_per_key(raw')              → rewrite master/latest
  *
  * Idempotence is the contract: re-persisting the same delta leaves
  * master/raw unchanged (content-hash dedup absorbs redelivery —
  * the reference's exactly-once-effect-from-at-least-once-input,
  * SURVEY.md §2.9).
  *
  * Scale notes: the union is plan-level; the only wide ops are the
  * hash dedup (one shuffle on an md5 key — uniform by construction)
  * and the latest-per-key window (one shuffle on the business key).
  * At 100 TB the full-raw rewrite becomes the bottleneck — the
  * partition-scoped merge rewrites only the delta's partitions (or a
  * deployment swaps in a MERGE-capable table format); the logical
  * plan here is unchanged by that choice.
  */
object PersistTableDual {

  final case class Paths(root: String, table: String) {
    def delta(runId: String) = s"$root/runs/$runId/delta/$table"
    val raw = s"$root/master/raw/$table"
    val latest = s"$root/master/latest/$table"
  }

  /** The on-disk layout schema with hive partition columns forced
    * back to their authoritative (delta-schema) types: partition-value
    * inference would re-type string "07" as int 7 — the leading zero
    * is already gone after inference, so only an explicit read schema
    * preserves it. Case-insensitive name matching mirrors Spark's
    * resolution. */
  private def typedLayout(spark: SparkSession, paths: Paths,
                          authoritative: StructType,
                          partitionCols: Seq[String],
                          knownSchema: Option[StructType]): StructType = {
    // base layout from the caller when it already has it (saves a
    // probe read's file listing + footer scan), else probe once
    val base = knownSchema.getOrElse(spark.read.parquet(paths.raw).schema)
    StructType(base.map { f =>
      if (partitionCols.exists(_.equalsIgnoreCase(f.name)))
        authoritative.find(_.name.equalsIgnoreCase(f.name))
          .map(d => f.copy(dataType = d.dataType)).getOrElse(f)
      else f
    })
  }

  /** The rows of raw under `rels` (see [[WholeTable]]), partition
    * columns read with their authoritative types. */
  private def readRaw(spark: SparkSession, paths: Paths,
                      authoritative: StructType, partitionCols: Seq[String],
                      knownSchema: Option[StructType],
                      rels: Seq[String]): DataFrame = {
    val reader = spark.read.option("basePath", paths.raw)
    val typed =
      if (partitionCols.isEmpty) reader
      else reader.schema(
        typedLayout(spark, paths, authoritative, partitionCols, knownSchema))
    typed.parquet(rels.map(at(paths.raw, _).toString): _*)
  }

  /** Lineage stamp (P1): constant run_id + extraction time. The
    * extractedAt literal is injected (not wall-clock) so runs are
    * replayable/deterministic. */
  def stampLineage(df: DataFrame, runId: String, extractedAt: String): DataFrame =
    df.withColumn("run_id", lit(runId))
      .withColumn("extracted_at", lit(extractedAt))

  private val lineageCols = Seq("run_id", "extracted_at")

  /** `df` with a row count observed by whichever action runs it: a
    * write reports how many rows it wrote, without reading them back.
    * `rows` blocks until that action has finished. */
  private final class Counted(df: DataFrame) {
    private val obs = new Observation()
    val frame: DataFrame = df.observe(obs, count(lit(1)).as("rows"))
    def rows: Long = obs.get("rows").asInstanceOf[Long]
  }

  /** Relative hive partition dirs (e.g. "ym=2024-01", "a=1/b=2")
    * actually written under `root`, discovered by walking the layout
    * rather than re-implementing Spark's partition-value escaping.
    * Relative paths are assembled from `Path.getName` segments — a
    * URI round-trip (`toUri.getPath` + prefix-stripping) can
    * decode/re-encode Hive-escaped `%XX` or space characters
    * inconsistently, mis-addressing dirs during swap/recovery. */
  private def partitionDirs(fs: FileSystem, root: Path, depth: Int): Seq[String] = {
    def walk(p: Path, d: Int, rel: List[String]): Seq[String] =
      if (d == 0) Seq(rel.reverse.mkString("/"))
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .filter(_.getPath.getName.contains("="))
        .flatMap(s => walk(s.getPath, d - 1, s.getPath.getName :: rel))
    walk(root, depth, Nil)
  }

  /** The rel a full rewrite's scope consists of: the table dir
    * itself. A scoped merge's rels are its partition dirs. */
  private val WholeTable = "."

  private def at(root: String, rel: String): Path =
    if (rel == WholeTable) new Path(root) else new Path(root, rel)

  private def staged(dir: String) = dir + "__stage"

  /** The merge's recorded intent — the rels of its scope, one per
    * line. Written once the staged raw is complete and deleted once
    * latest is rebuilt: its presence is what [[recover]] rolls
    * forward. */
  private def markerPath(paths: Paths) = new Path(paths.latest + "__pending")

  /** Temp file + rename, so recovery never reads a half-written rel
    * list. */
  private def writeMarker(fs: FileSystem, paths: Paths, rels: Seq[String]): Unit = {
    val marker = markerPath(paths)
    val tmp = new Path(marker.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(rels.mkString("\n").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(s"failed to commit $marker")
  }

  /** Replace each rel of `dir` by its staged copy, where that copy
    * still exists: delete, then rename. Re-running it after a crash
    * finishes the job — a rel whose staged copy is gone was already
    * moved in. Hadoop FileSystem signals most failures via `false`
    * returns — check them, or a failed rename turns the next one into
    * a nested move and the next read silently sees doubled data. */
  private def moveIn(fs: FileSystem, dir: String, rels: Seq[String]): Unit = {
    rels.foreach { rel =>
      val from = at(staged(dir), rel)
      val to = at(dir, rel)
      if (fs.exists(from)) {
        if (fs.exists(to) && !fs.delete(to, true))
          throw new java.io.IOException(s"failed to delete $to")
        fs.mkdirs(to.getParent)
        if (!fs.rename(from, to))
          throw new java.io.IOException(s"failed to move $from into $to")
      }
    }
    fs.delete(new Path(staged(dir)), true) // leftover _SUCCESS / scaffolding
  }

  /** Rebuild latest for `rels` from raw's rows under them, through
    * `latest__stage` and [[moveIn]]; returns the rows written. A full
    * rewrite replaces latest as a whole dir: in a date-partitioned
    * layout a key's latest row can move to another partition, and a
    * per-partition swap would keep the old one. */
  private def rebuildLatest(spark: SparkSession, paths: Paths, fs: FileSystem,
                            authoritative: StructType, knownSchema: Option[StructType],
                            keyCols: Seq[String], updatedAtCol: String,
                            partitionCols: Seq[String], rels: Seq[String]): Long = {
    val raw = readRaw(spark, paths, authoritative, partitionCols, knownSchema, rels)
    val latest = new Counted(latestSnapshot(raw, keyCols,
      col(updatedAtCol), col("extracted_at")))
    latest.frame.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staged(paths.latest))
    moveIn(fs, paths.latest, rels)
    latest.rows
  }

  /** Finish whatever merge a crash interrupted; run before anything
    * reads raw. A marker means the merge's staged raw was complete:
    * move in every listed rel whose staged copy still exists, rebuild
    * latest for the listed rels, drop the marker. Staged data without
    * a marker was never committed and is dropped. Idempotent. */
  private def recover(spark: SparkSession, paths: Paths, fs: FileSystem,
                      authoritative: StructType, keyCols: Seq[String],
                      updatedAtCol: String, partitionCols: Seq[String]): Unit = {
    val marker = markerPath(paths)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val rels = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList finally in.close()
      moveIn(fs, paths.raw, rels)
      rebuildLatest(spark, paths, fs, authoritative, None, keyCols,
        updatedAtCol, partitionCols, rels)
      fs.delete(marker, false)
    }
    Seq(staged(paths.raw), staged(paths.latest), marker.toString + ".tmp")
      .foreach(p => fs.delete(new Path(p), true))
  }

  /** Merge `delta` into the lake; returns (rawCount, latestCount)
    * within the merge's scope.
    *
    * `partitionCols` gives raw/latest a hive-partitioned layout
    * (e.g. by ingest date or key-hash bucket) so downstream scans
    * partition-prune; semantics are unchanged.
    *
    * The scope is the whole table, or with `partitionScoped = true`
    * on an existing lake the delta's partitions: only they are read,
    * merged and replaced — untouched partitions keep their exact
    * files (no O(history) rewrite per run; THE requirement at 100 TB
    * where a run's delta touches a sliver of the lake). Either way
    * the merge runs the same steps: stage raw' for the scope, record
    * the scope's rels in the `latest__pending` marker, replace each
    * rel of raw, rebuild latest for the same rels, drop the marker.
    * The counts are the lake's for a full rewrite (an empty delta
    * included, which leaves the lake's files untouched) and the
    * delta's partitions' for a scoped merge ((0, 0) for an empty
    * delta). Contract:
    *
    *  1. every partition column of a scoped merge must be a pure
    *     function of the business key (key-hash bucket, key range —
    *     NOT ingest date), otherwise a key's rows span partitions and
    *     the partition-local latest snapshot would be wrong; the full
    *     rewrite stays for layouts without that property;
    *  2. the delta schema must be stable across scoped runs: only
    *     affected partitions are rewritten with the new schema, so a
    *     schema-evolving delta would leave raw with heterogeneous
    *     per-partition schemas, and later single-footer schema probes
    *     would silently drop the added columns when reading untouched
    *     partitions — evolve the schema through a full rewrite;
    *  3. the marker is the merge's commit point. A merge that throws
    *     or crashes after writing it is rolled forward by the next
    *     persist's entry-time recovery: its rels move in and latest
    *     is rebuilt for them. One that stops before it leaves the
    *     lake as it was, and its staged raw is dropped — the caller
    *     replays it. Both callers do this by construction (the batch
    *     watermark does not advance past a failed run; the streaming
    *     checkpoint re-delivers the micro-batch), and content-hash
    *     dedup makes the replay idempotent. */
  def persist(spark: SparkSession, paths: Paths, delta: DataFrame,
              runId: String, extractedAt: String,
              keyCols: Seq[String], updatedAtCol: String,
              partitionCols: Seq[String] = Nil,
              partitionScoped: Boolean = false): (Long, Long) = {
    require(!partitionScoped || partitionCols.nonEmpty,
      "partitionScoped needs a partitioned layout")
    val stamped = stampLineage(delta, runId, extractedAt)
    val deltaRows = new Counted(stamped)
    deltaRows.frame.write.mode("overwrite").parquet(paths.delta(runId))
    // From here on, read the delta back from its own parquet: one
    // source scan total (a REST-backed delta would otherwise be
    // re-fetched by every downstream action), and every later step
    // sees exactly the rows that were durably written.
    val deltaOnDisk = spark.read.parquet(paths.delta(runId))

    // resolve the filesystem FROM the path — FileSystem.get(conf)
    // returns the default FS and throws "Wrong FS" for any other
    // scheme (s3a://, abfs://, ...)
    val rawPath = new Path(paths.raw)
    val fs = rawPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash mid-merge can leave raw missing until rolled forward:
    // recover before asking whether raw exists, or the lake would be
    // rebuilt from this delta alone
    recover(spark, paths, fs, stamped.schema, keyCols, updatedAtCol, partitionCols)
    // Explicit existence check — a broad catch would misread a
    // transient read failure as "first run" and silently rebuild the
    // lake from just this delta.
    val rawExists = fs.exists(rawPath)
    val scoped = partitionScoped && rawExists

    // An empty delta on an existing lake changes nothing: raw's and
    // latest's files (and schema) stay as they are. The delta dir is
    // written above either way.
    if (rawExists && deltaRows.rows == 0)
      return if (scoped) (0L, 0L)
        else (spark.read.parquet(paths.raw).count(),
          spark.read.parquet(paths.latest).count())

    // 1. raw within the scope ∪ delta, deduped, staged (the plan reads
    // raw lazily, so it cannot overwrite its own input in place).
    // Partition-value type inference would re-type hive partition
    // columns on read-back (string "07" → int 7), changing their
    // canonicalForHash rendering and silently breaking dedup
    // idempotence: raw is always read with the typed layout.
    val existingRaw = if (!rawExists) None else {
      val all = readRaw(spark, paths, stamped.schema, partitionCols, None,
        Seq(WholeTable))
      if (!scoped) Some(all)
      else {
        // the delta's partition tuples — few by design (a run touches
        // a sliver of the lake), so the collect is O(partitions-in-delta);
        // the null-safe per-tuple predicate reaches the scan as
        // partition pruning, so other partitions are never read
        val affected = deltaOnDisk.select(partitionCols.map(col): _*)
          .distinct().collect()
        Some(all.filter(affected.map { r =>
          partitionCols.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(r.get(i)) }.reduce(_ && _)
        }.reduce(_ || _)))
      }
    }
    // Earliest lineage wins among content-duplicates, mirroring the
    // reference's keep="first" on the (older-first) concat order.
    val deduped = contentHashDedup(
      existingRaw.fold(deltaOnDisk)(alignUnion(_, deltaOnDisk)),
      lineageCols, struct(col("extracted_at"), col("run_id")))
    val rawRows = new Counted(deduped)
    rawRows.frame.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staged(paths.raw))

    // 2.–5. commit the scope's rels, replace them in raw, rebuild
    // latest for them (deduped.schema is the just-written layout, so
    // no probe read), and drop the marker
    val rels =
      if (scoped) partitionDirs(fs, new Path(staged(paths.raw)), partitionCols.length)
      else Seq(WholeTable)
    writeMarker(fs, paths, rels)
    moveIn(fs, paths.raw, rels)
    val latestRows = rebuildLatest(spark, paths, fs, stamped.schema,
      Some(deduped.schema), keyCols, updatedAtCol, partitionCols, rels)
    fs.delete(markerPath(paths), false)

    // the moves replaced exactly the scope with the two staged
    // writes, so their counts are the scope's
    (rawRows.rows, latestRows)
  }
}
