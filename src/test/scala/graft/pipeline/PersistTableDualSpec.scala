package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTesting
import graft.pipeline.PersistTableDual.{Paths, persist}

/** The reference's core invariant (run_ac_extraction.py:159-188):
  * re-persisting the same delta leaves master/raw unchanged; updates
  * win in master/latest by updated_at. */
class PersistTableDualSpec extends AnyFunSuite {
  lazy val spark = SparkTesting.spark
  import spark.implicits._

  private def freshPaths() =
    Paths(Files.createTempDirectory("ptd").toString, "contacts")

  private def delta(rows: (String, String, String)*) =
    rows.toDF("contact_id", "email", "updated_at")

  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val st = Files.walk(src)
    try st.forEach { f =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst)
    } finally st.close()
  }

  private def deleteDir(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally st.close()
    }
  }

  test("idempotent merge: same delta twice → raw unchanged") {
    val p = freshPaths()
    val d = delta(("1", "a@x", "2024-01-01"), ("2", "b@x", "2024-01-01"))
    val (raw1, latest1) = persist(spark, p, d, "r1", "2026-01-01T00:00:00Z",
      Seq("contact_id"), "updated_at")
    // redelivery with different lineage: content-hash dedup absorbs it
    val (raw2, latest2) = persist(spark, p, d, "r2", "2026-01-02T00:00:00Z",
      Seq("contact_id"), "updated_at")
    assert(raw1 == 2 && raw2 == 2, "raw must not grow on redelivery")
    assert(latest1 == 2 && latest2 == 2)
  }

  test("update wins in latest; raw keeps full history") {
    val p = freshPaths()
    persist(spark, p, delta(("1", "old@x", "2024-01-01")), "r1",
      "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at")
    val (raw, latest) = persist(spark, p,
      delta(("1", "new@x", "2024-02-01")), "r2",
      "2026-01-02T00:00:00Z", Seq("contact_id"), "updated_at")
    assert(raw == 2, "raw keeps both versions")
    assert(latest == 1)
    val email = spark.read.parquet(p.latest).select("email").as[String].head()
    assert(email == "new@x")
  }

  test("partitioned layout: raw/latest hive-partitioned, semantics unchanged") {
    val p = freshPaths()
    val d = delta(("1", "a@x", "2024-01-01"), ("2", "b@x", "2024-02-01"))
      .withColumn("ym", org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.col("updated_at"), 1, 7))
    val (raw, latest) = persist(spark, p, d, "r1", "2026-01-01T00:00:00Z",
      Seq("contact_id"), "updated_at", partitionCols = Seq("ym"))
    assert(raw == 2 && latest == 2)
    // hive layout on disk, partition column restored on read
    val dirs = new java.io.File(p.raw).listFiles().map(_.getName).filter(_.startsWith("ym="))
    assert(dirs.toSet == Set("ym=2024-01", "ym=2024-02"))
    assert(spark.read.parquet(p.raw).columns.contains("ym"))
    // idempotence holds in partitioned form too
    val (raw2, _) = persist(spark, p, d, "r2", "2026-01-02T00:00:00Z",
      Seq("contact_id"), "updated_at", partitionCols = Seq("ym"))
    assert(raw2 == 2)
  }

  test("partitioned idempotence survives type-inferable partition values") {
    // "07" would be re-typed int 7 by partition inference on read-back,
    // changing its hash rendering — the explicit-schema read keeps it
    // a string and re-persisting stays a no-op
    val p = freshPaths()
    val d = delta(("1", "a@x", "2024-01-01"), ("2", "b@x", "2024-02-01"))
      .withColumn("bucket",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("contact_id") === "1", "07").otherwise("11"))
    val (raw1, _) = persist(spark, p, d, "r1", "2026-01-01T00:00:00Z",
      Seq("contact_id"), "updated_at", partitionCols = Seq("bucket"))
    val (raw2, _) = persist(spark, p, d, "r2", "2026-01-02T00:00:00Z",
      Seq("contact_id"), "updated_at", partitionCols = Seq("bucket"))
    assert(raw1 == 2 && raw2 == 2, "redelivery must not grow partitioned raw")
    // consumers of a hive-partitioned lake supply the schema (or
    // disable partitionColumnTypeInference) — an inferred read would
    // re-type "07" as int 7
    val schema = spark.read.parquet(p.raw).schema
    val stringed = org.apache.spark.sql.types.StructType(
      schema.map(f => if (f.name == "bucket")
        f.copy(dataType = org.apache.spark.sql.types.StringType) else f))
    val buckets = spark.read.schema(stringed).parquet(p.raw).select("bucket")
      .as[String].collect().sorted.toSeq
    assert(buckets == Seq("07", "11"), s"leading zero must survive: $buckets")
    // master/latest is built from a re-read of raw — its on-disk dirs
    // must keep the string value too (a bypassed typed read wrote
    // bucket=7 here while raw stayed correct)
    val latestDirs = new java.io.File(p.latest).listFiles()
      .map(_.getName).filter(_.startsWith("bucket=")).sorted.toSeq
    assert(latestDirs == Seq("bucket=07", "bucket=11"),
      s"latest partition dirs re-typed: $latestDirs")
  }

  test("partition-scoped rewrite: untouched partitions byte-identical") {
    import org.apache.spark.sql.functions.{col, when}
    val p = freshPaths()
    // bucket is a pure function of the key (the partitionScoped
    // contract): contacts 1/2 → bucket a, contact 3 → bucket b
    def bucketed(rows: (String, String, String)*) =
      delta(rows: _*).withColumn("bucket",
        when(col("contact_id") <= "2", "a").otherwise("b"))
    persist(spark, p,
      bucketed(("1", "a@x", "2024-01-01"), ("3", "c@x", "2024-01-01")),
      "r1", "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at",
      partitionCols = Seq("bucket"), partitionScoped = true)

    def fileHashes(dir: String): Map[String, String] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(_.isFile).filterNot(_.getName.startsWith("."))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    val beforeA = fileHashes(s"${p.raw}/bucket=a")
    val beforeLatestA = fileHashes(s"${p.latest}/bucket=a")
    assert(beforeA.nonEmpty)

    // second run touches ONLY bucket b; counts are AFFECTED-partition
    // scoped (a lake total would be the O(history) scan the path avoids)
    val (raw2, latest2) = persist(spark, p,
      bucketed(("3", "c2@x", "2024-02-01")),
      "r2", "2026-01-02T00:00:00Z", Seq("contact_id"), "updated_at",
      partitionCols = Seq("bucket"), partitionScoped = true)
    assert(raw2 == 2, "affected raw: both versions of contact 3")
    assert(latest2 == 1, "affected latest: one row for contact 3")
    assert(spark.read.parquet(p.raw).count() == 3, "lake total: 1 + 2 versions")
    assert(fileHashes(s"${p.raw}/bucket=a") == beforeA,
      "bucket a raw files must be physically untouched")
    assert(fileHashes(s"${p.latest}/bucket=a") == beforeLatestA,
      "bucket a latest files must be physically untouched")
    val email = spark.read.parquet(p.latest)
      .filter(col("contact_id") === "3").select("email").as[String].head()
    assert(email == "c2@x")

    // scoped redelivery is still idempotent
    val (raw3, _) = persist(spark, p, bucketed(("3", "c2@x", "2024-02-01")),
      "r3", "2026-01-03T00:00:00Z", Seq("contact_id"), "updated_at",
      partitionCols = Seq("bucket"), partitionScoped = true)
    assert(raw3 == 2, "scoped redelivery must not grow the affected partition")

    // empty delta: idempotent no-op, not an error
    val (raw4, latest4) = persist(spark, p,
      bucketed().selectExpr("contact_id", "email", "updated_at", "bucket"),
      "r4", "2026-01-04T00:00:00Z", Seq("contact_id"), "updated_at",
      partitionCols = Seq("bucket"), partitionScoped = true)
    assert(raw4 == 0 && latest4 == 0)
    assert(spark.read.parquet(p.raw).count() == 3, "empty delta changes nothing")
  }

  test("partition-scoped swap heals a crash between backup and rename") {
    import org.apache.spark.sql.functions.{col, when}
    val p = freshPaths()
    def bucketed(rows: (String, String, String)*) =
      delta(rows: _*).withColumn("bucket",
        when(col("contact_id") <= "2", "a").otherwise("b"))
    persist(spark, p,
      bucketed(("1", "a@x", "2024-01-01"), ("3", "c@x", "2024-01-01")),
      "r1", "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at",
      partitionCols = Seq("bucket"), partitionScoped = true)

    // simulate a crash mid-move: the marker lists bucket a, the old
    // bucket a was deleted and its staged copy never moved in — the
    // partition is "missing" (the staged copy holds the same rows)
    val rawA = new java.io.File(s"${p.raw}/bucket=a")
    val bak = new java.io.File(s"${p.raw}__stage/bucket=a")
    bak.getParentFile.mkdirs()
    assert(rawA.renameTo(bak), "test setup: move partition into the stage")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p.latest + "__pending"), "bucket=a")
    assert(!rawA.exists())

    // next scoped run (touching only bucket b) must first restore a
    val (raw2, _) = persist(spark, p, bucketed(("3", "c2@x", "2024-02-01")),
      "r2", "2026-01-02T00:00:00Z", Seq("contact_id"), "updated_at",
      partitionCols = Seq("bucket"), partitionScoped = true)
    assert(raw2 == 2)
    assert(rawA.exists(), "crashed-out partition must be restored")
    assert(!new java.io.File(s"${p.raw}/__swap_backup").exists(),
      "backup root must be cleared after recovery")
    val contact1 = spark.read.parquet(p.raw)
      .filter(col("contact_id") === "1").count()
    assert(contact1 == 1, "restored partition's history intact")
  }

  test("pending-latest marker heals raw/latest divergence from a crash between swaps") {
    import org.apache.spark.sql.functions.{col, when}
    val p = freshPaths()
    def bucketed(rows: (String, String, String)*) =
      delta(rows: _*).withColumn("bucket",
        when(col("contact_id") <= "2", "a").otherwise("b"))
    persist(spark, p,
      bucketed(("1", "a@x", "2024-01-01"), ("3", "c@x", "2024-01-01")),
      "r1", "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at",
      partitionCols = Seq("bucket"), partitionScoped = true)

    // simulate a crash AFTER the raw swap, BEFORE the latest swap:
    // raw has bucket b's merged data, latest's copy is gone, and the
    // pending marker (written before the raw swap) records the debt
    val latestB = new java.io.File(s"${p.latest}/bucket=b")
    latestB.listFiles().foreach(_.delete()); latestB.delete()
    assert(!latestB.exists())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p.latest + "__pending"), "bucket=b")

    // next run touches ONLY bucket a — recovery must still rebuild
    // bucket b's latest from current raw before the merge proceeds
    persist(spark, p, bucketed(("1", "a2@x", "2024-02-01")),
      "r2", "2026-01-02T00:00:00Z", Seq("contact_id"), "updated_at",
      partitionCols = Seq("bucket"), partitionScoped = true)
    assert(latestB.exists(), "pending latest partition must be rebuilt")
    assert(!new java.io.File(p.latest + "__pending").exists(),
      "marker cleared once latest is consistent")
    val e3 = spark.read.parquet(p.latest)
      .filter(col("contact_id") === "3").select("email").as[String].head()
    assert(e3 == "c@x", "rebuilt latest reflects raw's content")
    val e1 = spark.read.parquet(p.latest)
      .filter(col("contact_id") === "1").select("email").as[String].head()
    assert(e1 == "a2@x", "the new merge still lands")
  }

  test("empty delta on an existing lake: lake counts, raw/latest files and schema untouched") {
    val p = freshPaths()
    persist(spark, p, delta(("1", "a@x", "2024-01-01"), ("2", "b@x", "2024-01-01")),
      "r1", "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at")
    // file name → mtime; a rewrite would also rename every part file
    def files(dir: String): Map[String, Long] =
      new java.io.File(dir).listFiles().map(f => f.getName -> f.lastModified).toMap
    val (rawFiles, latestFiles) = (files(p.raw), files(p.latest))
    val (rawSchema, latestSchema) =
      (spark.read.parquet(p.raw).schema, spark.read.parquet(p.latest).schema)
    Thread.sleep(20) // a rewrite now gets a later mtime

    // zero rows carrying an extra column: nothing to merge, so the
    // lake keeps its schema too
    val empty = delta().withColumn("extra", org.apache.spark.sql.functions.lit("x"))
    val counts = persist(spark, p, empty, "r2", "2026-01-02T00:00:00Z",
      Seq("contact_id"), "updated_at")
    assert(counts == ((2L, 2L)), "an empty delta reports the lake's counts")
    assert(files(p.raw) == rawFiles, "raw files must be untouched")
    assert(files(p.latest) == latestFiles, "latest files must be untouched")
    assert(spark.read.parquet(p.raw).schema == rawSchema)
    assert(spark.read.parquet(p.latest).schema == latestSchema)
    assert(spark.read.parquet(p.delta("r2")).count() == 0,
      "the empty delta dir is still written")
  }

  test("non-scoped raw swap heals a crash between backing up the old raw and moving in the new") {
    import org.apache.spark.sql.functions.col
    val d1 = delta(("1", "a@x", "2024-01-01"), ("2", "b@x", "2024-01-01"))
    val d2 = delta(("1", "a2@x", "2024-02-01"), ("3", "c@x", "2024-02-01"))
    def rawRows(p: Paths) = spark.read.parquet(p.raw).orderBy("contact_id", "updated_at")
      .collect().toSeq
    val uninterrupted = freshPaths()
    persist(spark, uninterrupted, d1, "r1", "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at")
    persist(spark, uninterrupted, d2, "r2", "2026-01-02T00:00:00Z", Seq("contact_id"), "updated_at")

    // run r2 crashed after committing its marker and deleting the old
    // raw, before the staged raw moved in: raw is missing, its history
    // is in the staged raw (an uninterrupted r2's raw)
    val p = freshPaths()
    persist(spark, p, d1, "r1", "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at")
    val rawDir = new java.io.File(p.raw)
    val bak = new java.io.File(p.raw + "__stage")
    copyDir(uninterrupted.raw, bak.toString)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p.latest + "__pending"), ".")
    deleteDir(rawDir.toString)
    assert(!rawDir.exists(), "test setup: raw deleted, its staged copy pending")

    // the replayed r2 must restore the history before merging
    val (raw2, latest2) = persist(spark, p, d2, "r2", "2026-01-02T00:00:00Z",
      Seq("contact_id"), "updated_at")
    assert((raw2, latest2) == ((4L, 3L)))
    assert(rawRows(p) == rawRows(uninterrupted), "raw equals an uninterrupted run's")
    assert(!bak.exists(), "the backup is dropped once raw is whole")
    val e1 = spark.read.parquet(p.latest)
      .filter(col("contact_id") === "1").select("email").as[String].head()
    assert(e1 == "a2@x")
  }

  test("returned (raw, latest) equal a fresh re-read: non-scoped, scoped, redelivered") {
    import org.apache.spark.sql.functions.{col, when}
    def reread(p: Paths) =
      (spark.read.parquet(p.raw).count(), spark.read.parquet(p.latest).count())
    val p = freshPaths()
    val steps = Seq(
      delta(("1", "a@x", "2024-01-01"), ("2", "b@x", "2024-01-01")),
      delta(("1", "a2@x", "2024-02-01"), ("3", "c@x", "2024-02-01")),
      // a content-duplicate redelivery: nothing new reaches raw
      delta(("1", "a2@x", "2024-02-01"), ("3", "c@x", "2024-02-01")))
    steps.zipWithIndex.foreach { case (d, i) =>
      val counts = persist(spark, p, d, s"r$i", s"2026-01-0${i + 1}T00:00:00Z",
        Seq("contact_id"), "updated_at")
      assert(counts == reread(p), s"non-scoped step $i")
    }
    assert(reread(p) == ((4L, 3L)))

    // scoped: the counts cover the delta's partitions only
    val sp = freshPaths()
    def bucketed(rows: (String, String, String)*) =
      delta(rows: _*).withColumn("bucket",
        when(col("contact_id") <= "2", "a").otherwise("b"))
    def rereadBucket(b: String) = {
      def n(dir: String) = spark.read.parquet(dir).filter(col("bucket") === b).count()
      (n(sp.raw), n(sp.latest))
    }
    val scopedSteps = Seq(
      bucketed(("1", "a@x", "2024-01-01"), ("3", "c@x", "2024-01-01")),
      bucketed(("1", "a2@x", "2024-02-01"), ("2", "b@x", "2024-02-01")),
      bucketed(("1", "a2@x", "2024-02-01"), ("2", "b@x", "2024-02-01")))
    scopedSteps.zipWithIndex.foreach { case (d, i) =>
      val counts = persist(spark, sp, d, s"r$i", s"2026-01-0${i + 1}T00:00:00Z",
        Seq("contact_id"), "updated_at",
        partitionCols = Seq("bucket"), partitionScoped = true)
      val expected = if (i == 0) {
        val (a, b) = (rereadBucket("a"), rereadBucket("b"))
        (a._1 + b._1, a._2 + b._2)
      } else rereadBucket("a")
      assert(counts == expected, s"scoped step $i")
    }
    assert(rereadBucket("a") == ((3L, 2L)))
  }

  test("delta dirs are preserved per run") {
    val p = freshPaths()
    persist(spark, p, delta(("1", "a@x", "2024-01-01")), "r1",
      "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at")
    persist(spark, p, delta(("2", "b@x", "2024-01-01")), "r2",
      "2026-01-02T00:00:00Z", Seq("contact_id"), "updated_at")
    assert(spark.read.parquet(p.delta("r1")).count() == 1)
    assert(spark.read.parquet(p.delta("r2")).count() == 1)
    assert(spark.read.parquet(p.raw).count() == 2)
  }

  test("a failure between the raw swap and the latest write leaves no stale latest") {
    import org.apache.spark.sql.functions.col
    val p = freshPaths()
    persist(spark, p, delta(("1", "a@x", "2024-01-01")), "r1",
      "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at")
    // a bad updated_at column fails while latest is built, after raw
    // already took the new row
    intercept[org.apache.spark.sql.AnalysisException] {
      persist(spark, p, delta(("1", "a2@x", "2024-02-01")), "r2",
        "2026-01-02T00:00:00Z", Seq("contact_id"), "no_such_col")
    }
    val counts = persist(spark, p, delta(), "r3", "2026-01-03T00:00:00Z",
      Seq("contact_id"), "updated_at")
    assert(counts == ((2L, 1L)))
    val latest = spark.read.parquet(p.latest)
    val expected = graft.ops.Ops.latestSnapshot(spark.read.parquet(p.raw),
      Seq("contact_id"), col("updated_at"), col("extracted_at"))
    assert(latest.collect().toSet == expected.select(latest.columns.map(col): _*).collect().toSet,
      "latest equals latest_per_key(raw)")
    assert(latest.select("email").as[String].collect().toSeq == Seq("a2@x"))
    assert(!new java.io.File(p.latest + "__pending").exists())
  }

  test("partitioned full rewrite: a key's latest row moves partition, the old latest partition goes") {
    import org.apache.spark.sql.functions.{col, substring}
    val p = freshPaths()
    def byMonth(rows: (String, String, String)*) =
      delta(rows: _*).withColumn("ym", substring(col("updated_at"), 1, 7))
    persist(spark, p, byMonth(("1", "a@x", "2024-01-01")), "r1",
      "2026-01-01T00:00:00Z", Seq("contact_id"), "updated_at", partitionCols = Seq("ym"))
    val counts = persist(spark, p, byMonth(("1", "a2@x", "2024-02-01")), "r2",
      "2026-01-02T00:00:00Z", Seq("contact_id"), "updated_at", partitionCols = Seq("ym"))
    assert(counts == ((2L, 1L)))
    def dirs(d: String) =
      new java.io.File(d).listFiles().map(_.getName).filter(_.startsWith("ym=")).toSet
    assert(dirs(p.raw) == Set("ym=2024-01", "ym=2024-02"), "raw keeps both months")
    assert(dirs(p.latest) == Set("ym=2024-02"), "no latest partition without a latest row")
    val latest = spark.read.parquet(p.latest)
    assert(latest.filter(col("ym") === "2024-01").count() == 0)
    assert(latest.select("email").as[String].collect().toSeq == Seq("a2@x"))
  }

  /** Every on-disk state a merge can stop in, for run r2 over a lake
    * holding r1, each followed by a third persist with an empty and a
    * non-empty delta. Each must end equal, row for row, to the
    * uninterrupted runs': with r2 once its marker was written, without
    * it before. `rels` are the scope r2's merge records (the table dir
    * itself, ".", for a full rewrite). */
  private def crashStateTable(layout: DataFrame => DataFrame,
                              partitionCols: Seq[String], scoped: Boolean,
                              rels: Seq[String]): Unit = {
    def run(p: Paths, d: DataFrame, i: Int) =
      persist(spark, p, layout(d), s"r$i", s"2026-01-0${i}T00:00:00Z",
        Seq("contact_id"), "updated_at", partitionCols, scoped)
    val d1 = delta(("1", "a@x", "2024-01-01"), ("2", "b@x", "2024-01-01"),
      ("3", "c@x", "2024-01-01"))
    val d2 = delta(("1", "a2@x", "2024-02-01"), ("3", "c2@x", "2024-02-01"),
      ("4", "d@x", "2024-02-01"))
    val nexts = Seq("empty" -> delta(),
      "non-empty" -> delta(("2", "b2@x", "2024-03-01"), ("4", "d2@x", "2024-03-01")))
    def lake(ds: (DataFrame, Int)*) = {
      val p = freshPaths()
      val counts = ds.map { case (d, i) => run(p, d, i) }
      (p, counts.last)
    }
    val (afterR1, _) = lake(d1 -> 1)
    val (afterR2, _) = lake(d1 -> 1, d2 -> 2)
    def at(root: String, rel: String) = if (rel == ".") root else s"$root/$rel"
    def stage(dir: String) = dir + "__stage"
    def move(from: String, to: String): Unit = {
      deleteDir(to)
      Files.createDirectories(java.nio.file.Paths.get(to).getParent)
      Files.move(java.nio.file.Paths.get(from), java.nio.file.Paths.get(to))
    }
    def stageRaw(p: Paths): Unit = {
      copyDir(afterR2.delta("r2"), p.delta("r2"))
      rels.foreach(r => copyDir(at(afterR2.raw, r), at(stage(p.raw), r)))
    }
    def mark(p: Paths): Unit = Files.writeString(
      java.nio.file.Paths.get(p.latest + "__pending"), rels.mkString("\n"))
    def rawDone(p: Paths): Unit = {
      stageRaw(p); mark(p)
      rels.foreach(r => move(at(stage(p.raw), r), at(p.raw, r)))
      deleteDir(stage(p.raw))
    }
    val states: Seq[(String, Boolean, Paths => Unit)] = Seq(
      ("stage written, no marker", false, p => stageRaw(p)),
      ("marker written, nothing moved", true, p => { stageRaw(p); mark(p) }),
      ("a rel deleted, its rename pending", true, { p =>
        stageRaw(p); mark(p)
        rels.init.foreach(r => move(at(stage(p.raw), r), at(p.raw, r)))
        deleteDir(at(p.raw, rels.last))
      }),
      ("raw done, latest pending", true, p => rawDone(p)),
      ("a latest rel deleted", true, { p =>
        rawDone(p)
        rels.foreach(r => copyDir(at(afterR2.latest, r), at(stage(p.latest), r)))
        rels.init.foreach(r => move(at(stage(p.latest), r), at(p.latest, r)))
        deleteDir(at(p.latest, rels.last))
      }))
    def rows(dir: String) =
      spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    for ((next, d3) <- nexts; committed <- Seq(false, true)) {
      val (expected, expectedCounts) =
        if (committed) lake(d1 -> 1, d2 -> 2, d3 -> 3) else lake(d1 -> 1, d3 -> 3)
      states.filter(_._2 == committed).foreach { case (state, _, setup) =>
        withClue(s"[$state, $next next delta] ") {
          val p = Paths(Files.createTempDirectory("ptd").toString, "contacts")
          copyDir(afterR1.root, p.root)
          setup(p)
          val counts = run(p, d3, 3)
          assert(counts == expectedCounts)
          assert(rows(p.raw) == rows(expected.raw), "raw")
          assert(rows(p.latest) == rows(expected.latest), "latest")
          Seq(stage(p.raw), stage(p.latest), p.latest + "__pending").foreach { left =>
            assert(!new java.io.File(left).exists(), s"$left left behind")
          }
        }
      }
    }
  }

  test("crash-state table, unpartitioned: every stopped merge ends as an uninterrupted one") {
    crashStateTable(identity, Nil, scoped = false, Seq("."))
  }

  test("crash-state table, bucket-partitioned scoped merge: every stopped merge ends as an uninterrupted one") {
    import org.apache.spark.sql.functions.{col, when}
    crashStateTable(_.withColumn("bucket", when(col("contact_id") <= "2", "a").otherwise("b")),
      Seq("bucket"), scoped = true, Seq("bucket=a", "bucket=b"))
  }
}
