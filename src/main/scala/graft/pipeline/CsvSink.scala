package graft.pipeline

import org.apache.spark.sql.DataFrame

/** S2 — `write_csv_utf8sig` parity (run_ac_extraction.py:65-67): CSV
  * with header, UTF-8 **with BOM** (the `utf-8-sig` codec the
  * reference uses so Excel autodetects the encoding), minimal quoting.
  */
object CsvSink {

  /** The UTF-8 byte-order mark the `utf-8-sig` codec emits. */
  val Bom: Array[Byte] = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** Write `df` as headered CSV with every part file carrying the
    * UTF-8 BOM. Spark's CSV sink has no BOM option, so after the
    * distributed write each part file is stream-rewritten once with
    * the 3-byte signature prepended (per FILE, matching how a
    * BOM-expecting consumer opens each file individually). The extra
    * sequential pass is over export-grade output — this sink is for
    * marts/digests/dims handed to spreadsheet tools, not the fact
    * lake's parquet path. */
  /** Present while part files are being BOM-swapped; a crash leaves
    * it behind, and [[readCsvUtf8Sig]] fails fast on it instead of
    * serving a silently-incomplete export ('_' prefix keeps it out of
    * Spark's own input globs). */
  val InProgressMarker = "_BOM_SWAP_IN_PROGRESS"

  def writeCsvUtf8Sig(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").option("header", true).csv(path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    // marker up BEFORE the first swap, down after the last: any crash
    // window (including the brief one part's-renamed-away instant)
    // is detectable by readers rather than silently short
    val marker = new org.apache.hadoop.fs.Path(p, InProgressMarker)
    fs.create(marker, true).close()
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .foreach { s =>
        val src = s.getPath
        // intermediates are DOT-prefixed: Spark/Hadoop input globs
        // skip files starting with '.' or '_', so no crash window can
        // serve a reader BOTH the original and the stamped copy (the
        // remaining exposure is the instant between the two renames,
        // where this one part is briefly absent — healed, like all
        // leftovers, by re-running the sink)
        val tmp = new org.apache.hadoop.fs.Path(src.getParent, "." + src.getName + ".bom.tmp")
        val out = fs.create(tmp, true)
        try {
          out.write(Bom)
          val in = fs.open(src)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          finally in.close()
        } finally out.close()
        // Backup-then-swap:
        // delete(src)+rename(tmp,src) would lose the part file's rows
        // if the process dies between the two. Rename the original
        // aside first so every intermediate state still holds the data
        // under SOME name; a leftover .bom.bak/.bom.tmp from a crash
        // is cleaned by the next run's mode("overwrite") write.
        val bak = new org.apache.hadoop.fs.Path(src.getParent, "." + src.getName + ".bom.bak")
        if (!fs.rename(src, bak))
          throw new java.io.IOException(s"failed to set aside pre-BOM file $src")
        if (!fs.rename(tmp, src))
          throw new java.io.IOException(s"failed to move BOM-stamped file over $src")
        if (!fs.delete(bak, false))
          throw new java.io.IOException(s"failed to drop pre-BOM backup $bak")
      }
    if (!fs.delete(marker, false))
      throw new java.io.IOException(s"failed to clear swap marker $marker")
  }

  /** Read back a BOM-stamped CSV lake. Spark's CSV reader does not
    * strip a BOM, but the mark only ever sits at byte 0 of each file —
    * i.e. at the head of the header line, never inside a data row —
    * so the sole symptom is a U+FEFF-prefixed first column NAME
    * (taken from whichever file supplied the schema). Stripping it
    * from the column name restores the exact pre-sink schema. */
  def readCsvUtf8Sig(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path, InProgressMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      throw new java.io.IOException(
        s"$path: BOM stamping was interrupted mid-swap ($InProgressMarker " +
          "present) — the export may be missing rows; re-run writeCsvUtf8Sig")
    val raw = spark.read.option("header", true).csv(path) // no inferSchema → all-string
    raw.columns.foldLeft(raw) { (df, c) =>
      if (c.startsWith("\uFEFF")) df.withColumnRenamed(c, c.stripPrefix("\uFEFF")) else df
    }
  }
}
