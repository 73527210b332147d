package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Functions._
import graft.ops.Ops._

/** Table access for the driver testdata lake (TESTDATA.md).
  *
  * `events.ts` has shifted physical type across testdata/runtime
  * generations — parquet TIMESTAMP(NANOS) read as INT64 under the
  * (since-removed) `nanosAsLong` legacy conf, then TIMESTAMP(MICROS)
  * arriving as TIMESTAMP_NTZ under Spark 4.1.2's NTZ inference — so
  * every downstream query sees ONE canonical shape regardless: a
  * session-zone (UTC) micros TimestampType. Dispatch is on the dtype
  * actually read, never on an assumed runtime:
  *  - INT64 nanos → `timestamp_micros(ts div 1000)` (integer division;
  *    no double round-trip — ns since epoch exceed double's 53-bit
  *    mantissa)
  *  - TIMESTAMP_NTZ → cast to TimestampType; with the session zone
  *    pinned to UTC ([[graft.Sessions]]) the wall-clock is reinterpreted
  *    as the same UTC instant DuckDB's naive read renders
  *  - TimestampType → already canonical. */
object Tables {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
    else df
  }
}

/** E3 `build_chatter_master` — the reference's flagship analytics
  * query (run_ac_extraction.py:1016-1507) re-expressed on the
  * testdata star schema: conform N heterogeneous sources to one
  * event schema (§2.8), union (U2), enrich via broadcast dims
  * (J1/J3), derive names/lines (F1/F2), bound per-contact history
  * (A4), total-order sort (O1).
  *
  * Role mapping (FIXTURES.md): customer≙contacts, events≙activity
  * stream, orders/lineitem≙per-contact fact fan-out,
  * nation/region≙dimension lookups.
  *
  * Scale notes: the conform step is narrow (per-source projections —
  * no shuffle); the union is a plan-level concat; the only wide ops
  * are the orders⋈lineitem key join (shuffle on orderkey, naturally
  * well-distributed), the window top-N (one shuffle on contact_id),
  * and the final sort. Dims are explicitly broadcast.
  */
object ChatterMaster {
  import Tables.t

  /** The conformed event schema (the reference's 27-col ChatterEvent,
    * run_ac_extraction.py:1199-1227, adapted to the testdata domain):
    * 9 core event fields plus the id+name multiplex pairs, each
    * populated only by the sources that carry it (the reference's
    * per-source column subsets) and NULL elsewhere (the reference
    * stamps "" there, but its all-string lake treats blank and
    * missing alike, and the oracle SQL stamps NULL consistently).
    *
    * Pair mapping (reference pair ≙ testdata stand-in):
    *  - campaign    ≙ part        (id stamped; name via broadcast dim)
    *  - message     ≙ supplier    (id stamped; name via broadcast dim)
    *  - automation  ≙ nation      (mart-resolved via the contact FK)
    *  - pipeline    ≙ region      (two-level nation→region chain)
    *  - deal        ≙ order       (order_id/order_title, stamped at
    *    conform time — the parent-FK stamping of run_deals_bundle,
    *    run_ac_extraction.py:836-861: lineitem children carry their
    *    parent order's id/title)
    *  - deal_stage  ≙ order status (stage_id/stage_name decode)
    *  - tag         ≙ event_type  (tag_id/tag_name decode)
    * With the mart's contact columns and the derived display/line this
    * lands the flagship at the reference's 27-column width. */
  val eventCols: Seq[String] = Seq(
    "event_id", "contact_id", "source", "source_row_id",
    "event_ts", "event_type", "title", "detail", "url",
    "part_id", "supplier_id",
    "order_id", "order_title", "stage_id", "stage_name",
    "tag_id", "tag_name")

  /** deal_stage-style id→name decode for order status — distinct from
    * the event_type decode (order_open/…): stage names are display
    * strings, event types are machine tags, exactly like the
    * reference's separate type vs stage-name columns. */
  private def stageName(status: org.apache.spark.sql.Column) =
    decodeMap(status, Seq("O" -> "Open", "F" -> "Filled", "P" -> "Pending"),
      lit("Other"))

  /** Source 1: the `events` activity stream (ts/type/value/props —
    * props is a JSON string, exercising F5 get_json_object). */
  def conformEvents(spark: SparkSession, sfDir: String): DataFrame =
    conformEventsFrame(t(spark, sfDir, "events"))

  /** Conform projection over any frame with the events schema —
    * batch table or stream alike (narrow, no shuffle; used by
    * graft.streaming.EventStream.enrichedEventStream). */
  def conformEventsFrame(e: DataFrame): DataFrame = {
    e.select(
      concat_ws(":", lit("events"), col("event_id")).as("event_id"),
      col("user_id").cast("bigint").as("contact_id"),
      lit("events").as("source"),
      col("event_id").cast("string").as("source_row_id"),
      tsOut(col("ts")).as("event_ts"),
      col("event_type").as("event_type"),
      concat_ws(" ", lit("activity"), col("event_type")).as("title"),
      get_json_object(col("props"), "$.k").as("detail"),
      concat_ws("", lit("https://example.test/events/"), col("event_id")).as("url"),
      lit(null).cast("string").as("part_id"),
      lit(null).cast("string").as("supplier_id"),
      lit(null).cast("string").as("order_id"),
      lit(null).cast("string").as("order_title"),
      lit(null).cast("string").as("stage_id"),
      lit(null).cast("string").as("stage_name"),
      col("event_type").as("tag_id"),
      decodeMap(col("event_type"),
        Seq("click" -> "Clicked", "view" -> "Viewed", "purchase" -> "Purchased",
          "signup" -> "Signed up", "error" -> "Errored"),
        lit("tag_other")).as("tag_name"))
  }

  /** Source 2: orders as "order placed" events. */
  def conformOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
    o.select(
      concat_ws(":", lit("orders"), col("o_orderkey")).as("event_id"),
      col("o_custkey").cast("bigint").as("contact_id"),
      lit("orders").as("source"),
      col("o_orderkey").cast("string").as("source_row_id"),
      tsOut(col("o_orderdate")).as("event_ts"),
      decodeMap(col("o_orderstatus"),
        Seq("O" -> "order_open", "F" -> "order_filled", "P" -> "order_pending"),
        lit("order_other")).as("event_type"),
      col("o_orderpriority").as("title"),
      col("o_totalprice").cast("decimal(12,2)").cast("string").as("detail"),
      lit(null).cast("string").as("url"),
      lit(null).cast("string").as("part_id"),
      lit(null).cast("string").as("supplier_id"),
      col("o_orderkey").cast("string").as("order_id"),
      col("o_orderpriority").as("order_title"),
      col("o_orderstatus").as("stage_id"),
      stageName(col("o_orderstatus")).as("stage_name"),
      lit(null).cast("string").as("tag_id"),
      lit(null).cast("string").as("tag_name"))
  }

  /** Source 3: lineitem shipments, resolved to a contact through
    * orders (two-level fan-out J5: contact → order → lineitem). */
  def conformShipments(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
    // the parent order's deal columns ride the contact-resolve join —
    // two-level parent-FK stamping (run_deals_bundle :836-861) at
    // zero extra cost
    val o = t(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderpriority"), col("o_orderstatus"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        concat_ws(":", lit("lineitem"), col("l_orderkey"), col("l_linenumber")).as("event_id"),
        col("o_custkey").cast("bigint").as("contact_id"),
        lit("lineitem").as("source"),
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("source_row_id"),
        tsOut(col("l_shipdate")).as("event_ts"),
        lit("shipment").as("event_type"),
        concat_ws(" ", lit("ship"), col("l_returnflag"), col("l_linestatus")).as("title"),
        col("l_quantity").cast("decimal(12,2)").cast("string").as("detail"),
        lit(null).cast("string").as("url"),
        col("l_partkey").cast("string").as("part_id"),
        col("l_suppkey").cast("string").as("supplier_id"),
        col("l_orderkey").cast("string").as("order_id"),
        col("o_orderpriority").as("order_title"),
        col("o_orderstatus").as("stage_id"),
        stageName(col("o_orderstatus")).as("stage_name"),
        lit(null).cast("string").as("tag_id"),
        lit(null).cast("string").as("tag_name"))
  }

  /** Source 4 (catalog-driven): the contact seed roster read through
    * the paged connector with the ENDPOINT CATALOG's contacts column
    * set (graft.sources.AcEndpoints) — the per-endpoint dynamic
    * schema flowing into the conform union, exactly the reference's
    * seed-roster branch of the chatter master (the roster rows are
    * `dict(it)` payloads too). Backend is the deterministic fixture
    * (ids 0..n-1, email user{i}@example.com), so the DuckDB oracle
    * mirrors it with a range() generator. Roster rows are SNAPSHOT
    * facts, not timeline events: a constant extraction-stamp
    * event_ts (never NULL — NULL sort position differs per engine)
    * and the contact's email as title. */
  def conformContactSeed(spark: SparkSession, nContacts: Int = 200): DataFrame = {
    val ep = graft.sources.AcEndpoints.byName("contacts")
    val roster = spark.read.format("graft.sources.PagedSource")
      .options(Map(
        "totalrows" -> nContacts.toString, "pagelimit" -> "100",
        "columns" -> ep.columns.mkString(",")))
      .load()
    roster.select(
      concat_ws(":", lit("contacts"), col("id")).as("event_id"),
      col("id").cast("bigint").as("contact_id"),
      lit("contacts").as("source"),
      col("id").cast("string").as("source_row_id"),
      lit("2026-01-01 00:00:00").as("event_ts"),
      lit("contact_seed").as("event_type"),
      col("email").as("title"),
      lit("seed").as("detail"),
      lit(null).cast("string").as("url"),
      lit(null).cast("string").as("part_id"),
      lit(null).cast("string").as("supplier_id"),
      lit(null).cast("string").as("order_id"),
      lit(null).cast("string").as("order_title"),
      lit(null).cast("string").as("stage_id"),
      lit(null).cast("string").as("stage_name"),
      lit(null).cast("string").as("tag_id"),
      lit(null).cast("string").as("tag_name"))
  }

  /** U2: the conformed all-sources union. A `universe` (one
    * `contact_id` column) keeps each source to those contacts before
    * anything downstream sees a row. */
  def unifiedEvents(spark: SparkSession, sfDir: String,
                    universe: Option[DataFrame] = None): DataFrame =
    conformedUnion(Seq(
      conformEvents(spark, sfDir),
      conformOrders(spark, sfDir),
      conformShipments(spark, sfDir)).map(src =>
      universe.fold(src)(u => src.join(u, Seq("contact_id"), "left_semi"))))

  /** The full mart: unified events ⟕ contacts (J1, broadcast) with
    * name derivation (F1), chatter line (F2), the reference-width
    * id→name multiplex (J3 broadcast lookups for part/supplier/
    * nation, a J4-style two-level chain for nation→region), per-
    * contact recency bound (A4, keep most recent
    * `maxEventsPerContact`), total-order timeline sort (O1).
    *
    * Every dim join here is broadcast — adding enrichment pairs adds
    * zero fact-side shuffles (the only wide stages remain the top-N
    * window and the final sort; asserted in ScalePlanSpec).
    *
    * `universe` bounds the mart to a run's contacts (see
    * [[unifiedEvents]]). The bound is applied to each source, below
    * the top-N window: the window is partitioned by `contact_id` and
    * every later join is a per-row lookup, so the rows kept are those
    * a semi-join of the whole mart would keep, and the mart's cost
    * follows the universe instead of the lake. */
  def chatterMaster(spark: SparkSession, sfDir: String,
                    maxEventsPerContact: Int = 500,
                    universe: Option[DataFrame] = None): DataFrame = {
    val unified = unifiedEvents(spark, sfDir, universe)
    // one broadcast of the contacts dim carries names AND the nation
    // FK — a second customer join would broadcast the same table twice
    val contacts = t(spark, sfDir, "customer").select(
      col("c_custkey").cast("bigint").as("contact_id"),
      col("c_name").as("contact_name"),
      col("c_mktsegment").as("segment"),
      col("c_nationkey").as("_natkey"))
    val nations = t(spark, sfDir, "nation")

    val bounded = topNPerGroup(unified, Seq("contact_id"),
      Seq(col("event_ts").desc, col("event_id").desc), maxEventsPerContact)

    val withContacts = bounded.join(broadcast(contacts), Seq("contact_id"), "left")

    // id→name multiplex pairs (the reference's campaign/message/
    // automation/... dims ≙ part/supplier/nation/region stand-ins)
    val withPart = mapLookup(withContacts, t(spark, sfDir, "part"),
      col("part_id"), "p_partkey", "p_name", "part_name")
    val withSupp = mapLookup(withPart, t(spark, sfDir, "supplier"),
      col("supplier_id"), "s_suppkey", "s_name", "supplier_name")
    // nation→region: resolve the region FK through the nation dim
    // (two-level chain), then the region name — both broadcast
    val withNation = mapLookup(withSupp, nations,
      col("_natkey"), "n_nationkey", "n_name", "nation_name")
      .withColumn("nation_id", col("_natkey").cast("string"))
    val withRegionFk = mapLookup(withNation, nations,
      col("_natkey"), "n_nationkey", "n_regionkey", "region_id")
    val enriched = mapLookup(withRegionFk, t(spark, sfDir, "region"),
      col("region_id"), "r_regionkey", "r_name", "region_name")
      .withColumn("region_id", col("region_id").cast("string"))
      .drop("_natkey")

    withDisplayAndLine(enriched)
      .orderBy(col("contact_id").asc, col("event_ts").asc_nulls_last, col("event_id").asc)
  }

  /** F1+F2 enrich derivation — display name with `contact#id`
    * fallback plus the chatter line; shared by the batch mart and the
    * streaming enrichment so the formats cannot drift. */
  def withDisplayAndLine(df: DataFrame): DataFrame =
    df.withColumn("contact_display",
        mkName(col("contact_name"), col("segment"),
          concat_ws("", lit("contact#"), col("contact_id"))))
      .withColumn("chatter_line",
        chatterLine(col("event_ts"), col("title"), col("contact_display"),
          col("detail"), col("url")))

  /** S9 — per-contact digest TXT sink (run_ac_extraction.py:1684-1692):
    * one `<outDir>/contact_<id>.txt` per contact, written from the
    * executors via `foreachPartition` (no driver collect). Input: any
    * frame with (contact_id, digest).
    *
    * Files go through the Hadoop FileSystem API resolved from the
    * outDir's scheme, so the sink targets whatever the cluster's
    * storage is (HDFS, object store, local) — NOT the executors'
    * local disks. Idempotent: re-runs overwrite per-contact files in
    * place. Scale: each task writes its own partition's contacts;
    * repartition by contact_id upstream to control files-per-task. */
  def writeDigestTxt(digests: DataFrame, outDir: String): Unit = {
    // the SESSION's Hadoop conf (spark.hadoop.* settings, object-store
    // credentials), shipped to tasks as plain entries (Configuration
    // itself isn't serializable and Spark's wrapper is private) — a
    // bare `new Configuration()` in the task would ignore
    // SparkConf-supplied fs.defaultFS/credentials
    val sessionConf = digests.sparkSession.sparkContext.hadoopConfiguration
    val confEntries = {
      val it = sessionConf.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    def rebuild(): org.apache.hadoop.conf.Configuration = {
      val c = new org.apache.hadoop.conf.Configuration(false)
      confEntries.foreach { case (k, v) => c.set(k, v) }
      c
    }
    // a PRIVATE FileSystem instance (not the process-shared cache):
    // we disable checksum sidecars for the plain-TXT contract, and
    // flipping that on the cached instance would silently change
    // every other writer in the JVM
    def fsFor(conf: org.apache.hadoop.conf.Configuration) = {
      val base = new org.apache.hadoop.fs.Path(outDir)
      val fs = org.apache.hadoop.fs.FileSystem.newInstance(
        base.toUri, conf)
      fs.setWriteChecksum(false)
      (fs, base)
    }
    // driver-side too: a zero-partition frame runs no tasks, and
    // consumers still expect the (empty) directory to exist
    locally {
      val (fs, base) = fsFor(sessionConf)
      try fs.mkdirs(base) finally fs.close()
    }
    digests.select(col("contact_id").cast("string"), col("digest"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val (fs, base) = fsFor(rebuild())
        try {
          fs.mkdirs(base)
          rows.foreach { r =>
            // rows without an id or digest have nothing to write —
            // a shared contact_null.txt or an NPE helps no one
            if (!r.isNullAt(0) && !r.isNullAt(1)) {
              val out = fs.create(
                new org.apache.hadoop.fs.Path(base, s"contact_${r.getString(0)}.txt"), true)
              try out.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              finally out.close()
            }
          }
        } finally fs.close()
      }
  }
}
