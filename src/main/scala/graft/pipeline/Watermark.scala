package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths => JPaths}

/** Keyset-watermark state (E1 steps 2/9: run_ac_extraction.py
  * :1556-1571, 1696-1700) — `state.json` holding the max processed id
  * plus the last-run stamp, read at plan time and advanced after a
  * successful batch.
  *
  * In streaming mode this role is played by the checkpoint/offset log
  * (graft.streaming); in batch it is a tiny driver-side JSON file —
  * state is O(1), never data-sized.
  */
object Watermark {

  final case class State(maxId: Long, lastRunUtc: String)

  // Jackson ships with Spark — a real JSON parse survives field
  // reordering, escapes and added fields, where the previous regex
  // scrape only happened to.
  private val mapper = new ObjectMapper()

  /** Absent file = fresh start (maxId -1). A present-but-unparseable
    * file is an ERROR, not a fresh start — silently treating garbage
    * as maxId=-1 would re-extract the full history, and a truncated
    * write could silently regress the watermark. */
  def load(path: String): State = {
    val p = JPaths.get(path)
    if (!Files.exists(p)) State(-1L, "")
    else {
      val s = Files.readString(p)
      val node = try mapper.readTree(s) catch {
        case e: Exception => throw new IllegalStateException(
          s"watermark state at $path exists but is unparseable: $s", e)
      }
      val idNode = node.get("max_id")
      if (idNode == null || !idNode.canConvertToLong)
        throw new IllegalStateException(
          s"watermark state at $path exists but has no integral max_id: $s")
      val tsNode = node.get("last_run_utc")
      State(idNode.asLong(), if (tsNode == null) "" else tsNode.asText(""))
    }
  }

  /** Write via temp file + atomic move so a crash mid-write can never
    * leave a truncated (silently-regressed) state file. Serialized by
    * Jackson so a lastRunUtc containing quotes/backslashes round-trips. */
  def save(path: String, state: State): Unit = {
    val root = mapper.createObjectNode()
    root.put("max_id", state.maxId)
    root.put("last_run_utc", state.lastRunUtc)
    AtomicFile.write(JPaths.get(path), mapper.writeValueAsString(root))
  }

  /** S5: the incremental slice past the watermark. The comparison is
    * pushed into the scan (PushedFilters on parquet; offset predicate
    * on a keyset-capable source). */
  def incrementalSlice(df: DataFrame, idCol: String, state: State): DataFrame =
    df.filter(col(idCol) > state.maxId)

  /** A7: advance to the batch max (no-op on an empty batch). */
  def advance(df: DataFrame, idCol: String, prev: State, runUtc: String): State = {
    val m = df.agg(max(col(idCol))).head()
    val newMax = if (m.isNullAt(0)) prev.maxId
                 else math.max(prev.maxId, m.getLong(0))
    State(newMax, runUtc)
  }
}
