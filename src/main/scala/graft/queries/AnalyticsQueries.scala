package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.Tables.t
import graft.text.{NearDup, TextAnalysis => TA}

/** Reporting / corpus-analytics operators that round out the engine's
  * relational surface beyond SURVEY.md §2's reference inventory:
  * pivoted crosstabs, rollup subtotals, window frames (running /
  * moving sums, lag deltas), two-pass z-score outlier detection, and
  * the text-corpus analyses a training-data curator runs before
  * mixing (TF-IDF keywords, bigram collocation PMI, inverted index,
  * stride-overlap context chunking). All built-in expression trees —
  * no UDFs — so everything stays inside whole-stage codegen.
  */
object AnalyticsQueries {

  /** doc → non-blank token list CTE (DuckDB mirror of
    * TextAnalysis.tokens — the ONE tokenization). */
  private val toksCte =
    """d AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)""".stripMargin

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val all: Seq[QDef] = Seq(

    // PIVOT crosstab: per-user event-type counts as fixed columns
    // (the reference's per-contact activity summary rendered wide,
    // run_ac_extraction.py:1429-1474 renders the same rollup as
    // text). Pivot values are DECLARED, not discovered — a discovery
    // pass over 100 TB just to learn the column set is a full extra
    // scan, and an unbounded pivot is an unbounded schema. Shape: one
    // hash aggregate on user_id with map-side partials; the pivot
    // becomes a fixed-width conditional-count projection.
    QDef("q_pivot_event_counts", Some(s"""
      SELECT user_id,
        ${eventTypes.map(ty => s"count(*) FILTER (WHERE event_type = '$ty') AS \"$ty\"").mkString(",\n        ")}
      FROM events GROUP BY user_id ORDER BY user_id"""),
      (s, d) => t(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
        .select(col("user_id") +: eventTypes.map(ty => coalesce(col(ty), lit(0L)).as(ty)): _*)
        .orderBy("user_id")),

    // UNPIVOT / MELT (the inverse of q_pivot_event_counts): the four
    // lineitem measures tidy into long (key, measure, cents) form —
    // the wide→long reshape feeding generic per-measure pipelines
    // (one quality rule over N columns, per-measure histograms)
    // without N separate scans. Cents-integer values; the reshape is
    // Spark's native unpivot (an Expand node: 4 output rows per
    // input INSIDE the scan stage, zero shuffle before the output
    // sort — at 100 TB the fan-out is narrow and pipelined, never a
    // union of 4 re-scans, which is exactly how the oracle has to
    // spell it).
    QDef("q_unpivot_melt", Some("""
      WITH m AS (SELECT l_orderkey, l_linenumber,
          CAST(floor(l_quantity      * 100.0 + 0.5) AS BIGINT) AS quantity,
          CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS extendedprice,
          CAST(floor(l_discount      * 100.0 + 0.5) AS BIGINT) AS discount,
          CAST(floor(l_tax           * 100.0 + 0.5) AS BIGINT) AS tax
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, measure, cents FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS measure, quantity AS cents FROM m
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'extendedprice', extendedprice FROM m
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', discount FROM m
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', tax FROM m)
      ORDER BY l_orderkey, l_linenumber, measure, cents"""),
      (s, d) => {
        val cents = (c: String) => floor(col(c) * lit(100.0) + lit(0.5)).cast("long")
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            cents("l_quantity").as("quantity"),
            cents("l_extendedprice").as("extendedprice"),
            cents("l_discount").as("discount"),
            cents("l_tax").as("tax"))
          .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
            "measure", "cents")
          .orderBy("l_orderkey", "l_linenumber", "measure", "cents")
      }),

    // ROLLUP subtotals: revenue by (returnflag, linestatus) with
    // per-flag subtotals and a grand total in ONE pass — the
    // hand-written "totals row" loops a report builder writes around
    // pandas groupbys collapse into a single grouping-sets aggregate.
    // Rollup NULL markers are projected to '(all)' sentinels (the
    // grouping keys are never null in the lake, so the sentinel is
    // unambiguous). Sums in DECIMAL, rendered as strings (Spark
    // widens to DECIMAL(22,2), DuckDB to (38,2) — same digits).
    QDef("q_rollup_pricing", Some("""
      SELECT coalesce(l_returnflag, '(all)') AS flag,
             coalesce(l_linestatus, '(all)') AS status,
             count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS sum_price
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY flag, status"""),
      (s, d) => t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("string").as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("status"),
          col("n"), col("sum_price"))
        .orderBy("flag", "status")),

    // Z-ORDER LAYOUT AUDIT (multi-dimensional data skipping): compute
    // the 24-bit Morton/z-value interleaving (o_custkey, order-day)
    // bit by bit, split the curve into 16 equal z-ranges, and report
    // each range's bounding box over BOTH dimensions — the property
    // files sorted by z give you: every file carries tight min/max on
    // customer AND date simultaneously, so a predicate on EITHER
    // column prunes files (a single-column sort bounds only itself).
    // This is the layout decision a 100 TB lake makes before writing;
    // the audit is how you justify it. Pure integer bit arithmetic,
    // identical in any engine; the Spark interleave is unrolled into
    // 24 shift/mask terms (no HOFs — stays in whole-stage codegen).
    QDef("q_zorder_layout", Some("""
      WITH b AS (SELECT o_orderkey, o_custkey AS x,
                   CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS y
                 FROM orders),
      z AS (SELECT x, y,
              CAST(list_sum(list_transform(range(0, 12), i ->
                (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zv
            FROM b)
      SELECT zv // 1048576 AS z_bucket, count(*) AS n,
             min(x) AS min_cust, max(x) AS max_cust,
             min(y) AS min_day, max(y) AS max_day
      FROM z GROUP BY z_bucket ORDER BY z_bucket"""),
      (s, d) => {
        val b = t(s, d, "orders").select(
          col("o_custkey").as("x"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("y"))
        val zv = (0 until 12).map { i =>
          shiftleft(shiftright(col("x"), i).bitwiseAND(lit(1L)), 2 * i) +
            shiftleft(shiftright(col("y"), i).bitwiseAND(lit(1L)), 2 * i + 1)
        }.reduce(_ + _)
        b.withColumn("zv", zv)
          .groupBy(expr("div(zv, 1048576)").as("z_bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("min_cust"), max(col("x")).as("max_cust"),
            min(col("y")).as("min_day"), max(col("y")).as("max_day"))
          .orderBy("z_bucket")
      }),

    // COUNT-MIN SKETCH: the d=4 × w=64 counter-array frequency
    // sketch (Cormode–Muthukrishnan) built in ONE map-side-combined
    // pass — each event lands in 4 salted-md5 buckets, the sketch is
    // 256 counters TOTAL at any fact scale, and a key's estimate is
    // the MIN over its 4 counters. Emitted per key against the true
    // count so the one-sided error contract is on the oracle
    // surface: est ≥ truth ALWAYS (collisions only ever inflate),
    // and the overcount column is the measured collision mass. This
    // completes the sketch family (HLL = distinct, Bloom =
    // membership, CMS = frequency); at 100 TB the 256-counter state
    // is what you ship to the driver, not a 10⁹-key exact table. The
    // key-side probe joins the BROADCAST counter array; everything
    // is salted-md5-deterministic, no RNG.
    QDef("q_cms_estimate", Some("""
      WITH hh AS (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL
                  SELECT 2 UNION ALL SELECT 3),
      cnt AS (SELECT hh.i,
                CAST(('0x' || substr(md5('cms' || hh.i || '|' || e.user_id), 1, 4))
                  AS INTEGER) % 64 AS bucket,
                CAST(count(*) AS BIGINT) AS c
              FROM events e, hh GROUP BY 1, 2),
      truth AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1),
      keyb AS (SELECT t.user_id, t.n, hh.i,
                 CAST(('0x' || substr(md5('cms' || hh.i || '|' || t.user_id), 1, 4))
                   AS INTEGER) % 64 AS bucket
               FROM truth t, hh)
      SELECT k.user_id, k.n AS true_count,
             CAST(min(c.c) AS BIGINT) AS cms_estimate,
             CAST(min(c.c) - k.n AS BIGINT) AS overcount
      FROM keyb k JOIN cnt c ON k.i = c.i AND k.bucket = c.bucket
      GROUP BY 1, 2 ORDER BY user_id"""),
      (s, d) => {
        // counter build + probe live ONCE in ops.Sketches — the
        // streaming face (EventStream.cmsCounterStream) runs the same
        // trees, so this oracle covers both. r17 OPT: counters now
        // fold the ALREADY-COMPUTED truth table (weighted build,
        // Sketches.cmsCountersWeighted — additive counters are
        // identical by construction) instead of re-hashing every raw
        // event ×4; the truth aggregate's exchange is shared by both
        // consumers (one canonical subtree), so the events fact is
        // hashed per distinct user, not per event.
        val truth = t(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n"))
        val cnt = graft.ops.Sketches.cmsCountersWeighted(truth, "user_id", "n")
        graft.ops.Sketches.cmsEstimate(truth, "user_id", cnt)
          .join(truth, Seq("user_id"))
          .select(col("user_id"), col("n").as("true_count"), col("cms_estimate"),
            (col("cms_estimate") - col("n")).as("overcount"))
          .orderBy("user_id")
      }),

    // INCREMENTAL AGGREGATE MERGE (materialized-view maintenance):
    // per-key algebraic states (count / decimal sum / min / max)
    // computed separately on the historical slice (event_id%10<8) and
    // the delta slice, then merged with coalesce/least/greatest over
    // a full outer join — the oracle is the FULL RECOMPUTE over all
    // events, so the hash compare proves merge(state(old), state(Δ))
    // == state(old ∪ Δ). This is the 100 TB refresh pattern: the
    // historical state is a materialized table that is NEVER
    // rescanned; each refresh aggregates only the delta and merges
    // key-to-key (both sides hash-partitioned on the same keys).
    // Decimal sums render as strings (exact, order-independent).
    QDef("q_agg_incremental_merge", Some("""
      SELECT user_id, event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS sum_v,
             min(event_id) AS min_id, max(event_id) AS max_id
      FROM events GROUP BY user_id, event_type
      ORDER BY user_id, event_type"""),
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"), col("event_type"),
          col("event_id"), col("value").cast("decimal(12,2)").as("v"))
        def state(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"),
            sum(col("v")).as("s"), min(col("event_id")).as("mn"),
            max(col("event_id")).as("mx"))
        val hist = state(ev.filter(col("event_id") % 10 < 8))
          .withColumnsRenamed(Map("n" -> "n_o", "s" -> "s_o", "mn" -> "mn_o", "mx" -> "mx_o"))
        val delta = state(ev.filter(col("event_id") % 10 >= 8))
        hist.join(delta, Seq("user_id", "event_type"), "full_outer")
          .select(col("user_id"), col("event_type"),
            (coalesce(col("n_o"), lit(0L)) + coalesce(col("n"), lit(0L))).as("n"),
            (coalesce(col("s_o"), lit(java.math.BigDecimal.ZERO).cast("decimal(22,2)")) +
              coalesce(col("s"), lit(java.math.BigDecimal.ZERO).cast("decimal(22,2)")))
              .cast("string").as("sum_v"),
            least(col("mn_o"), col("mn")).as("min_id"),
            greatest(col("mx_o"), col("mx")).as("max_id"))
          .orderBy("user_id", "event_type")
      }),

    // CUBE with grouping_id: all four aggregation granularities of
    // (returnflag, linestatus) in ONE pass, each row tagged with the
    // bitmask saying which keys are rolled up (Spark's grouping_id()
    // and DuckDB's GROUPING() share the first-arg-is-MSB convention —
    // verified empirically, see the oracle). The cube is planned as a
    // single Expand + hash aggregate: 4 grouping sets cost one scan,
    // not four. Sums in DECIMAL rendered as strings (the exact-sum
    // discipline of q_rollup_pricing).
    QDef("q_cube_pricing", Some("""
      SELECT coalesce(l_returnflag, '(all)') AS flag,
             coalesce(l_linestatus, '(all)') AS status,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS sum_price
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY gid, flag, status"""),
      (s, d) => t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("string").as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("flag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("status"),
          col("gid"), col("n"), col("sum_price"))
        .orderBy("gid", "flag", "status")),

    // WINDOW FRAMES: per-user running total + 3-row moving sum over
    // the event timeline — the cumulative-engagement curve the
    // reference renders per contact. One shuffle on user_id serves
    // BOTH frames (same partition+order ⇒ one Window exec, one sort).
    // Frame sums in DECIMAL: a running double sum is order-dependent
    // in the last ulp; decimal is exact, so the hash compare is too.
    QDef("q_running_total", Some("""
      SELECT user_id, event_id,
        CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS run_total,
        CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS VARCHAR) AS moving3
      FROM events ORDER BY user_id, event_id"""),
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val dec = col("value").cast("decimal(12,2)")
        t(s, d, "events").select(col("user_id"), col("event_id"),
          sum(dec).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("string").as("run_total"),
          sum(dec).over(byUser.rowsBetween(-2, 0)).cast("string").as("moving3"))
          .orderBy("user_id", "event_id")
      }),

    // LAG delta: microseconds since the user's previous event (first
    // event per user ⇒ NULL) — inter-event gaps feed the session
    // analysis q_window_session bins. Integer epoch arithmetic: no
    // float, no timezone rendering. Same single-shuffle Window shape.
    QDef("q_event_gap_lag", Some("""
      SELECT user_id, event_id,
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events ORDER BY user_id, event_id"""),
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events").select(col("user_id"), col("event_id"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)).as("gap_us"))
          .orderBy("user_id", "event_id")
      }),

    // Z-SCORE outliers, two-pass: per-type (n, Σc, Σc²) over integer
    // CENTS (c = floor(value·100 + 0.5): one IEEE multiply+add+floor
    // per row — bit-identical in any engine — then pure integers),
    // broadcast the tiny stats table back onto the stream, flag
    // |z| > 2.5 via the EXACT integer predicate 4·num² > 25·den where
    // num = n·c − Σc, den = n·Σc² − (Σc)² (z = num/√den, so
    // |z| > 2.5 ⇔ num² > 6.25·den; den = 0 forces num = 0 — never an
    // outlier, matching the old NULL-z exclusion). The output IS the
    // exact rational (num, den): no sqrt, no double division, no
    // decimal rescale, no HUGEINT — identical under ANY oracle engine
    // or dataframe conversion, not just one DuckDB version (the
    // r5–r7 hard-signal divergence: HUGEINT/DECIMAL outputs convert
    // to float64 in pandas readers while Spark's stay int64).
    // Spark-side moments run in DECIMAL(38,0) so the arithmetic stays
    // exact far past sf0.1, and since r13 the ORACLE's moments/
    // predicate run in HUGEINT for the same reason — the sf1
    // selfcheck caught its 4·num² filter product at 3.1e19 (the
    // Spark side, already decimal, sailed through; the comparison
    // engine is subject to the same overflow discipline as the
    // engine under test). EMITTED columns must also be scale-stable:
    // raw den = n·Σc² − (Σc)² grows as n² and passed BIGINT at sf10
    // (1.0e20; the r15 sf10 sweep caught the CAST), so the dump
    // carries znum_cents (exact, headroom to ~sf30) plus the
    // SCALE-FREE floored population variance den div n² (≈ cents²
    // variance of the metric, ~1e8 at every SF; positive, so DuckDB
    // // and the HUGEINT/decimal floor agree exactly). Membership
    // still comes from the exact 4·num² > 25·den predicate on the
    // unreduced integers. The floor loses den mod n² cents², so a
    // consumer rebuilding |z| from (znum_cents, zvar_cents2) alone
    // would land a hair HIGH when the floor bites (ADVICE r14);
    // zvar_rem = den mod n² carries the dropped remainder — the
    // exact rational variance is (zvar_cents2·n² + zvar_rem)/n²,
    // recoverable because n is the per-type row count. Both operands
    // are non-negative, so Spark % and DuckDB/HUGEINT % agree.
    // 100 TB shape: one map-side-combined aggregate + one broadcast
    // join; the fact is never shuffled.
    QDef("q_zscore_outliers", Some("""
      WITH e AS (SELECT event_id, event_type,
          CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c FROM events),
      st AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          CAST(sum(c) AS HUGEINT) AS sc,
          sum(CAST(c AS HUGEINT) * c) AS scc
        FROM e GROUP BY event_type),
      j AS (SELECT e.event_id, e.event_type, st.n AS n,
          st.n * e.c - st.sc AS num,
          st.n * st.scc - st.sc * st.sc AS den
        FROM e JOIN st USING (event_type))
      SELECT event_id, event_type, CAST(num AS BIGINT) AS znum_cents,
             CAST(den // (n * n) AS BIGINT) AS zvar_cents2,
             CAST(den % (n * n) AS BIGINT) AS zvar_rem
      FROM j WHERE 4 * num * num > 25 * den ORDER BY event_id"""),
      (s, d) => {
        val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
        val ev = t(s, d, "events")
          .select(col("event_id"), col("event_type"), cents.as("c"))
        val c38 = col("c").cast("decimal(38,0)")
        val stats = ev.groupBy("event_type").agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(c38).cast("decimal(38,0)").as("sc"),
          sum(c38 * c38).cast("decimal(38,0)").as("scc"))
        ev.join(broadcast(stats), "event_type")
          .withColumn("num", col("n") * c38 - col("sc"))
          .withColumn("den", col("n") * col("scc") - col("sc") * col("sc"))
          .filter(lit(4) * col("num") * col("num") > lit(25) * col("den"))
          .select(col("event_id"), col("event_type"),
            col("num").cast("long").as("znum_cents"),
            expr("div(den, n * n)").cast("long").as("zvar_cents2"),
            expr("den % (n * n)").cast("long").as("zvar_rem"))
          .orderBy("event_id")
      }),

    // TF-IDF keywords: top-3 terms per doc. Ranking key is
    // (tf DESC, df ASC, term) — integer-deterministic and
    // order-equivalent to tf·idf at fixed tf (higher idf = lower df)
    // — so no float ever decides a rank. The reported score is the
    // LINEARIZED tf-idf, tf·(N/df), as an integer PERMILLE:
    // (1000·tf·N) div df, plain BIGINT multiply + truncating integer
    // division (Spark `div` truncates toward zero, DuckDB `//`
    // floors — identical on these non-negative counts). ln() is
    // banned from hashed outputs (libm differs per engine in the
    // last ulp) and ln is monotone in N/df so the linear form
    // carries the same per-term ordering information; the permille
    // form additionally avoids DECIMAL/HUGEINT output types that
    // pandas-side readers convert to float64 (the r5–r7 driver
    // divergence). 1000·tf·N ≤ ~2.5e9 at sf0.1 — far inside BIGINT.
    // Corpus size N arrives as a broadcast 1-row cross join, NOT a
    // driver collect. 100 TB: tf is one shuffle on (doc, term); df
    // one on term; the rank window re-shuffles on doc_id — all
    // uniform keys (stop-word skew lives in df's TERM key only,
    // where the combiner flattens it).
    QDef("q_tfidf_topk", Some(s"""
      WITH $toksCte,
      tk AS (SELECT doc_id, unnest(toks) AS term FROM d),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, term),
      dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfr.df, nd.n_docs,
        row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfr.df ASC, tf.term) AS rnk
        FROM tf JOIN dfr USING (term) CROSS JOIN nd)
      SELECT doc_id, rnk, term, tf, df,
        (1000 * tf * n_docs) // df AS tfidf_permille
      FROM sc WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
      (s, d) => {
        val docs = t(s, d, "documents")
        val tk = docs.select(col("doc_id"), explode(TA.tokens(col("text"))).as("term"))
        val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        val byDoc = Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)
        tf.join(dfr, "term")
          .crossJoin(broadcast(nd))
          .withColumn("rnk", row_number().over(byDoc))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
            expr("div(1000 * tf * n_docs, df)").as("tfidf_permille"))
          .orderBy("doc_id", "rnk")
      }),

    // Bigram collocations: top-50 adjacent pairs by count with the
    // association LIFT, P(xy)/(P(x)P(y)) = c_xy·t_uni²/(t_bi·c_x·c_y)
    // — exp(PMI), reported instead of PMI itself because ln() is not
    // bitwise-portable across libm implementations, and reported as
    // an integer PERMILLE: (1000·c_xy·t_uni²) div (t_bi·c_x·c_y) on
    // non-negative counts. The products route through DECIMAL(38,0)
    // (Spark) / HUGEINT (DuckDB): 1000·c_xy·t_uni² ≈ 1.5e18 at sf0.1
    // but ~1.5e21 at sf1 (t_uni scales with the corpus and appears
    // SQUARED — the r13 sf1 sweep caught the BIGINT overflow live),
    // and exact integer arithmetic to 1e38 keeps the permille
    // identical on both engines out past a 1e12-token corpus. Only
    // the BIGINT-small quotient crosses the oracle (lift ranks pairs
    // identically to PMI, ln being monotone). Bigrams come from the
    // ONE shingle definition
    // (NearDup.shingleExpr, n=2, non-distinct — occurrence counts,
    // not doc membership). Unigram counts join back by word — a
    // shuffle join, NOT a broadcast: a web-scale vocabulary (typos,
    // numbers) does not reliably fit an executor.
    QDef("q_bigram_pmi", Some(s"""
      WITH $toksCte,
      bi AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
              i -> toks[i] || ' ' || toks[i+1])) AS bg FROM d),
      bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_xy FROM bi GROUP BY bg),
      un AS (SELECT unnest(toks) AS w FROM d),
      uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM un GROUP BY w),
      tt AS (SELECT CAST(sum(c_xy) AS BIGINT) AS t_bi FROM bc),
      t1 AS (SELECT CAST(sum(c_w) AS BIGINT) AS t_uni FROM uc)
      SELECT bg, c_xy,
        CAST((1000 * CAST(c_xy AS HUGEINT) * t_uni * t_uni)
          // (CAST(t_bi AS HUGEINT) * cx.c_w * cy.c_w) AS BIGINT) AS lift_permille
      FROM bc CROSS JOIN tt CROSS JOIN t1
      JOIN uc cx ON cx.w = split_part(bg, ' ', 1)
      JOIN uc cy ON cy.w = split_part(bg, ' ', 2)
      ORDER BY c_xy DESC, bg LIMIT 50"""),
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        val bc = docs.select(explode(NearDup.shingleExpr("toks", 2)).as("bg"))
          .groupBy("bg").agg(count(lit(1)).as("c_xy"))
        val uc = docs.select(explode(col("toks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c_w"))
        val tBi = bc.agg(sum(col("c_xy")).as("t_bi"))
        val tUni = uc.agg(sum(col("c_w")).as("t_uni"))
        bc.crossJoin(broadcast(tBi)).crossJoin(broadcast(tUni))
          .join(uc.as("cx"), col("cx.w") === split_part(col("bg"), lit(" "), lit(1)))
          .join(uc.as("cy"), col("cy.w") === split_part(col("bg"), lit(" "), lit(2)))
          .select(col("bg"), col("c_xy"),
            expr("div(1000 * cast(c_xy as decimal(38,0)) * t_uni * t_uni, " +
              "cast(t_bi as decimal(38,0)) * cx.c_w * cy.c_w)")
              .as("lift_permille"))
          .orderBy(col("c_xy").desc, col("bg").asc)
          .limit(50)
      }),

    // Inverted index: term → doc frequency + the first 10 postings.
    // The posting list is CAPPED BEFORE the shuffle, not just before
    // collection: the rank window carries row_number ALONE, so
    // InferWindowGroupLimit inserts a partial WindowGroupLimit on the
    // MAP side — each map partition forwards at most 10 postings per
    // term, and a stop-word's corpus-wide posting list never reaches
    // one reducer (the r16 sf10 sweep's top slow-grower, 10.63×, when
    // a count(*) frame rode the same window select and blocked the
    // pushdown). n_docs comes from a map-side-combined
    // groupBy(term).count joined back CO-PARTITIONED — both sides
    // hash on term, so the join adds no exchange. ScalePlanSpec pins
    // the WindowGroupLimit node and the single-exchange shape.
    QDef("q_inverted_index", Some(s"""
      WITH $toksCte,
      td AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM d)
      SELECT term, count(*) AS n_docs,
        array_to_string(list_slice(list_sort(list(doc_id)), 1, 10), ',') AS postings
      FROM td GROUP BY term ORDER BY term"""),
      (s, d) => {
        val td = t(s, d, "documents")
          .select(col("doc_id"), explode(TA.tokens(col("text"))).as("term"))
          .distinct()
        val byTerm = Window.partitionBy("term").orderBy("doc_id")
        val postings = td
          .select(col("term"), col("doc_id"),
            row_number().over(byTerm).as("rn"))
          .filter(col("rn") <= 10)
          .groupBy("term")
          .agg(expr("array_join(transform(array_sort(collect_list(doc_id)), x -> cast(x AS STRING)), ',')")
            .as("postings"))
        val counts = td.groupBy("term").agg(count(lit(1)).as("n_docs"))
        postings.join(counts, Seq("term"))
          .select(col("term"), col("n_docs"), col("postings"))
          .orderBy("term")
      }),

    // Context-window chunking: split each doc's tokens into
    // 32-token windows with stride 24 (8-token overlap) — the
    // sequence-shaping step between cleaning and packing
    // (q_pack_sequences packs whole docs; chunking bounds single
    // long docs first). Pure per-row transform+explode: narrow, no
    // shuffle, fan-out ≈ n_tokens/stride per row. Chunk count
    // floor((n-1)/stride)+1 covers every token; the tail chunk may
    // be short but never empty.
    QDef("q_chunk_stride", Some(s"""
      WITH $toksCte,
      c AS (SELECT doc_id, unnest(range(0, ((greatest(len(toks), 1) - 1) // 24) + 1)) AS chunk_idx,
            toks FROM d)
      SELECT doc_id, chunk_idx,
        len(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32)) AS n_toks,
        array_to_string(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32), ' ') AS chunk
      FROM c ORDER BY doc_id, chunk_idx"""),
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .select(col("doc_id"), expr(
          """explode(transform(
            |  sequence(cast(0 AS BIGINT), (greatest(size(toks), 1) - 1) div 24),
            |  i -> struct(i AS chunk_idx, slice(toks, i*24 + 1, 32) AS c)))""".stripMargin).as("e"))
        .select(col("doc_id"), col("e.chunk_idx").as("chunk_idx"),
          size(col("e.c")).as("n_toks"),
          concat_ws(" ", col("e.c")).as("chunk"))
        .orderBy("doc_id", "chunk_idx")),

    // CDC snapshot diff: inserted / deleted / updated rows between
    // two snapshots of the same table, compared by business key +
    // content hash (the persist layer's row-hash idiom,
    // run_ac_extraction.py:126-131, turned into a diff operator).
    // Snapshots are simulated by key-range predicates + a price bump.
    // 100 TB shape: one full-outer sort-merge join on the key — the
    // honest minimum for CDC; with both snapshots bucketed on the key
    // (ScalePlanSpec's bucketed-join property) it runs exchange-free.
    // Unchanged rows are dropped BEFORE the sort, so the output is
    // O(churn), not O(table).
    QDef("q_snapshot_diff", Some("""
      WITH old AS (SELECT o_orderkey AS k, md5(CAST(o_custkey AS VARCHAR) || '||' || o_orderstatus || '||' ||
                     CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)) AS h
                   FROM orders WHERE o_orderkey % 10 <> 0),
      novo AS (SELECT o_orderkey AS k, md5(CAST(o_custkey AS VARCHAR) || '||' || o_orderstatus || '||' ||
                     CAST(CAST(o_totalprice AS DECIMAL(12,2)) + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS VARCHAR)) AS h
                   FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT coalesce(old.k, novo.k) AS o_orderkey,
        CASE WHEN old.k IS NULL THEN 'inserted'
             WHEN novo.k IS NULL THEN 'deleted'
             ELSE 'updated' END AS status
      FROM old FULL OUTER JOIN novo ON old.k = novo.k
      WHERE old.k IS NULL OR novo.k IS NULL OR old.h <> novo.h
      ORDER BY o_orderkey"""),
      (s, d) => {
        val o = t(s, d, "orders")
        def snap(pred: org.apache.spark.sql.Column, bump: org.apache.spark.sql.Column) =
          o.filter(pred).select(col("o_orderkey").as("k"),
            md5(concat_ws("||", col("o_custkey").cast("string"), col("o_orderstatus"),
              (col("o_totalprice").cast("decimal(12,2)") + bump).cast("string"))).as("h"))
        val old = snap(col("o_orderkey") % 10 =!= 0, lit(0))
        val nw = snap(col("o_orderkey") % 7 =!= 0,
          when(col("o_orderkey") % 5 === 0, 1).otherwise(0))
        old.as("o").join(nw.as("n"), col("o.k") === col("n.k"), "full_outer")
          .filter(col("o.k").isNull || col("n.k").isNull || col("o.h") =!= col("n.h"))
          .select(coalesce(col("o.k"), col("n.k")).as("o_orderkey"),
            when(col("o.k").isNull, "inserted")
              .when(col("n.k").isNull, "deleted")
              .otherwise("updated").as("status"))
          .orderBy("o_orderkey")
      }),

    // Gaps-and-islands + SCD-2 closure: consecutive same-type event
    // runs per user (start, end, length) with the next run's start as
    // valid_to. The ORACLE derives islands with the classic rn−rn
    // trick (two different partition keys); the ENGINE uses
    // lag-change-flag + running sum so EVERYTHING — both window
    // passes, the run aggregate, the valid_to lead — rides one
    // user_id exchange (island ids differ between the derivations,
    // but the runs they induce are identical, and ids never reach
    // the output). The aggregate reuses the window's partitioning:
    // hash(user_id) clusters (user_id, type, island) for free.
    QDef("q_runs_scd2", Some(s"""
      WITH r AS (SELECT user_id, event_type, ts, event_id,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS island
        FROM events),
      g AS (SELECT user_id, event_type, island,
          strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS run_start,
          strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS run_end,
          count(*) AS n,
          min(event_id) AS first_eid
        FROM r GROUP BY user_id, event_type, island)
      SELECT user_id, event_type, run_start, run_end, n,
        lead(run_start) OVER (PARTITION BY user_id
          ORDER BY run_start, run_end, event_type, first_eid) AS valid_to
      FROM g ORDER BY user_id, run_start, event_type, first_eid"""),
      (s, d) => {
        val TS = "yyyy-MM-dd HH:mm:ss"
        val byU = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val chg = when(lag(col("event_type"), 1).over(byU).isNull ||
          lag(col("event_type"), 1).over(byU) =!= col("event_type"), 1).otherwise(0)
        val island = sum(chg).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        // first_eid (the run's min event id) is an ALWAYS-distinct
        // tiebreak: run boundaries render at second resolution, so two
        // same-type runs interleaved with another type inside one
        // second tie on (run_start, run_end, event_type) — without a
        // distinct key both the lead() and the output order would be
        // engine/partition-order-dependent. Internal only: dropped
        // after ordering.
        val g = t(s, d, "events")
          .withColumn("island", island)
          .groupBy("user_id", "event_type", "island")
          .agg(date_format(min(col("ts")), TS).as("run_start"),
            date_format(max(col("ts")), TS).as("run_end"),
            count(lit(1)).as("n"),
            min(col("event_id")).as("first_eid"))
        g.withColumn("valid_to", lead(col("run_start"), 1).over(
            Window.partitionBy("user_id")
              .orderBy("run_start", "run_end", "event_type", "first_eid")))
          .orderBy("user_id", "run_start", "event_type", "first_eid")
          .drop("island", "first_eid")
      }),

    // Per-group MODE with a declared tiebreak (alphabetical) — the
    // dominant event type per user. Built on the count aggregate +
    // one row_number window rather than mode()/max_by(), whose tie
    // behavior is engine-defined: determinism must come from keys.
    // Both shuffles key on user_id-rooted tuples; the window reuses
    // the aggregate's clustering.
    QDef("q_mode_per_group", Some("""
      WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
      r AS (SELECT user_id, event_type, n,
        row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn FROM c)
      SELECT user_id, event_type AS mode_type, n FROM r WHERE rn = 1 ORDER BY user_id"""),
      (s, d) => {
        val byU = Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type").asc)
        t(s, d, "events").groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(byU))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
          .orderBy("user_id")
      }),

    // Exact-integer Pearson correlation moments per group:
    // corr(quantity, extendedprice) carried as the EXACT RATIONAL
    // representation of signed r² — the centered moments
    // cnum = n·Σxy−ΣxΣy, dx = n·Σx²−(Σx)², dy = n·Σy²−(Σy)², where
    // r = cnum/√(dx·dy) and signed r² = sign(cnum)·cnum²/(dx·dy).
    // Inputs are born integers (quantity is integer-valued; price in
    // CENTS via floor(p·100+0.5), one IEEE step per row), power sums
    // accumulate in tight-precision DECIMALs so every product stays
    // ≤ 38 digits — EXACT integer arithmetic in both engines, never
    // the >38-wide multiply where DuckDB falls back to DOUBLE and
    // Spark rounds scale. The moments (up to ~10²⁵ at sf0.1) are
    // emitted as integer VARCHAR — exceeding int64, a string is the
    // one representation every engine and dataframe reader agrees
    // on; a consumer derives r in its own float env. No sqrt, no
    // double, no render: nothing for an oracle environment to
    // disagree about. One map-side-combined aggregate pass; 3 rows.
    QDef("q_corr_exact", Some("""
      WITH b AS (SELECT l_returnflag,
        CAST(l_quantity AS BIGINT) AS x,
        CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y FROM lineitem),
      s AS (SELECT l_returnflag, CAST(count(*) AS DECIMAL(12,0)) AS n,
        CAST(sum(x) AS DECIMAL(12,0)) AS sx,
        CAST(sum(y) AS DECIMAL(15,0)) AS sy,
        CAST(sum(x * y) AS DECIMAL(16,0)) AS sxy,
        CAST(sum(x * x) AS DECIMAL(12,0)) AS sxx,
        CAST(sum(CAST(y AS DECIMAL(15,0)) * y) AS DECIMAL(22,0)) AS syy
        FROM b GROUP BY l_returnflag)
      SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        -- EVERY product widens one operand past 18 digits so DuckDB
        -- stores it as int128: two <=18-digit decimals multiply in an
        -- 18-digit physical and overflow the moment the PRODUCT
        -- reaches 19 digits (n·sxy and sx·sy ≈ 5.4e18 at sf0.1; sy²
        -- ≈ 1.1e22). The results stay exact — widths <= 38.
        CAST(CAST(CAST(n AS DECIMAL(19,0)) * sxy
                  - CAST(sx AS DECIMAL(19,0)) * sy AS DECIMAL(38,0)) AS VARCHAR) AS cnum,
        CAST(CAST(CAST(n AS DECIMAL(19,0)) * sxx
                  - CAST(sx AS DECIMAL(19,0)) * sx AS DECIMAL(38,0)) AS VARCHAR) AS dx,
        CAST(CAST(CAST(n AS DECIMAL(19,0)) * syy
                  - CAST(sy AS DECIMAL(19,0)) * sy AS DECIMAL(38,0)) AS VARCHAR) AS dy
      FROM s ORDER BY l_returnflag"""),
      (s, d) => {
        val x = col("l_quantity").cast("long")
        val y = floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
        val b = t(s, d, "lineitem").select(col("l_returnflag"), x.as("x"), y.as("y"))
        val st = b.groupBy("l_returnflag").agg(
          count(lit(1)).cast("decimal(12,0)").as("n"),
          sum(col("x")).cast("decimal(12,0)").as("sx"),
          sum(col("y")).cast("decimal(15,0)").as("sy"),
          sum(col("x") * col("y")).cast("decimal(16,0)").as("sxy"),
          sum(col("x") * col("x")).cast("decimal(12,0)").as("sxx"),
          sum(col("y").cast("decimal(15,0)") * col("y")).cast("decimal(22,0)").as("syy"))
        st.select(col("l_returnflag"), col("n").cast("long").as("n"),
          (col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("decimal(38,0)").cast("string").as("cnum"),
          (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("decimal(38,0)").cast("string").as("dx"),
          (col("n") * col("syy") - col("sy") * col("sy"))
            .cast("decimal(38,0)").cast("string").as("dy"))
          .orderBy("l_returnflag")
      }),

    // NTILE segmentation: users split into spend quartiles — the
    // per-contact scoring band the reference's digest renders as
    // text. ntile needs a GLOBAL order over one row per user: fine,
    // because the ranked relation is already aggregated to |users|
    // rows — never ntile a raw fact. Tiebreak (total DESC, user_id)
    // declared so band boundaries are engine-independent.
    QDef("q_ntile_quartiles", Some("""
      WITH u AS (SELECT user_id, sum(CAST(value AS DECIMAL(12,2))) AS tot
                 FROM events GROUP BY user_id)
      SELECT user_id, CAST(tot AS VARCHAR) AS total,
             ntile(4) OVER (ORDER BY tot DESC, user_id) AS quartile
      FROM u ORDER BY user_id"""),
      (s, d) => t(s, d, "events")
        .groupBy("user_id")
        .agg(sum(col("value").cast("decimal(12,2)")).as("tot"))
        .withColumn("quartile", ntile(4).over(
          Window.orderBy(col("tot").desc, col("user_id").asc)))
        .select(col("user_id"), col("tot").cast("string").as("total"), col("quartile"))
        .orderBy("user_id")),

    // INTEGER PERCENT-RANK (position permille): each user's spend
    // position within their event_type cohort as
    // div(1000·(rk−1), n−1) over a row_number rank — born-integer
    // (the float percent_rank() would reopen the r5-r7 oracle-
    // environment wound), deterministic under ties via the user_id
    // tiebreak. ONE hash exchange on event_type serves both window
    // functions (same partition spec) — and unlike a global ntile,
    // the partitioned window never funnels the corpus through a
    // single task at scale.
    QDef("q_percent_rank_milli", Some("""
      WITH u AS (SELECT event_type, user_id, sum(CAST(value AS DECIMAL(12,2))) AS tot
                 FROM events GROUP BY event_type, user_id),
      r AS (SELECT event_type, user_id, tot,
              CAST(row_number() OVER (PARTITION BY event_type ORDER BY tot DESC, user_id) AS BIGINT) AS rk,
              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM u)
      SELECT event_type, user_id, CAST(tot AS VARCHAR) AS total, rk,
             CASE WHEN n = 1 THEN 0 ELSE (1000 * (rk - 1)) // (n - 1) END AS pr_milli
      FROM r ORDER BY event_type, rk"""),
      (s, d) => {
        val u = t(s, d, "events").groupBy("event_type", "user_id")
          .agg(sum(col("value").cast("decimal(12,2)")).as("tot"))
        val byType = Window.partitionBy("event_type")
        val r = u
          .withColumn("rk", row_number().over(
            byType.orderBy(col("tot").desc, col("user_id").asc)).cast("long"))
          .withColumn("n", count(lit(1)).over(byType).cast("long"))
        r.select(col("event_type"), col("user_id"),
            col("tot").cast("string").as("total"), col("rk"),
            when(col("n") === 1, lit(0L))
              .otherwise(expr("div(1000 * (rk - 1), n - 1)")).as("pr_milli"))
          .orderBy("event_type", "rk")
      }),

    // Time-series RESAMPLE + LOCF gap fill: per-user daily grid from
    // first to last active day, observed daily totals carried
    // forward over silent days (`last` with ignoreNulls — the
    // forward-fill every feature pipeline needs before a model sees
    // regular time steps). Grid generation is a narrow per-user
    // sequence+explode (O(days) fan-out, no driver loop); the join
    // back to observed days and the fill window both key on user_id.
    QDef("q_resample_locf", Some("""
      WITH b AS (SELECT user_id, date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
                 FROM events GROUP BY user_id),
      grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
      daily AS (SELECT user_id, date_trunc('day', ts) AS day, sum(CAST(value AS DECIMAL(12,2))) AS v
                FROM events GROUP BY 1, 2),
      j AS (SELECT g.user_id, g.day, d.v,
              CASE WHEN d.v IS NULL THEN 0 ELSE 1 END AS observed,
              last_value(d.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
            FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
      SELECT user_id, strftime(day, '%Y-%m-%d') AS day, observed, CAST(filled AS VARCHAR) AS filled
      FROM j ORDER BY user_id, day"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val grid = ev.groupBy("user_id")
          .agg(date_trunc("day", min(col("ts"))).as("d0"),
            date_trunc("day", max(col("ts"))).as("d1"))
          .select(col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val daily = ev.groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .agg(sum(col("value").cast("decimal(12,2)")).as("v"))
        val fill = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            when(col("v").isNull, 0).otherwise(1).as("observed"),
            last(col("v"), ignoreNulls = true).over(fill).cast("string").as("filled"))
          .orderBy("user_id", "day")
      }),

    // Fuzzy entity resolution (record linkage): resolve a probe set
    // of typo'd names (deterministic substitution + deletion
    // corruptions) back to the customer corpus within edit distance
    // 1 — WITHOUT an n×m cross join. Candidate generation is
    // SymSpell-style deletion-neighborhood banding: each side emits
    // its name plus every single-deletion variant as band keys, and
    // any distance-1 pair provably shares a key; the equi-join on
    // keys bounds work by bucket density (O(len) keys per name),
    // then exact levenshtein verifies. The same pigeonhole shape as
    // the simhash/winnow pair generators, applied to edit distance.
    QDef("q_fuzzy_resolve", Some("""
      WITH probes AS (
        SELECT c_custkey AS probe_key, 'X' || substr(c_name, 2) AS probe_name
        FROM customer WHERE c_custkey % 11 = 0
        UNION ALL
        SELECT c_custkey, substr(c_name, 1, 8) || substr(c_name, 10)
        FROM customer WHERE c_custkey % 13 = 0),
      ck AS (SELECT c_custkey, c_name, unnest(list_prepend(c_name,
               list_transform(range(1, len(c_name)+1),
                 i -> substr(c_name, 1, i-1) || substr(c_name, i+1, len(c_name))))) AS key
             FROM customer),
      pk AS (SELECT probe_key, probe_name, unnest(list_prepend(probe_name,
               list_transform(range(1, len(probe_name)+1),
                 i -> substr(probe_name, 1, i-1) || substr(probe_name, i+1, len(probe_name))))) AS key
             FROM probes),
      cand AS (SELECT DISTINCT probe_key, probe_name, c_custkey, c_name FROM pk JOIN ck USING (key))
      SELECT probe_key, probe_name, c_custkey, levenshtein(probe_name, c_name) AS dist
      FROM cand WHERE levenshtein(probe_name, c_name) <= 1
      ORDER BY probe_key, probe_name, c_custkey"""),
      (s, d) => {
        val cust = t(s, d, "customer")
        // the name itself + every single-deletion variant, one SQL
        // fragment shared by both sides so banding cannot drift
        def keyed(df: org.apache.spark.sql.DataFrame, nameCol: String) =
          df.withColumn("key", explode(expr(
            s"""array_union(array($nameCol), transform(
               |  sequence(1, length($nameCol)),
               |  i -> concat(substr($nameCol, 1, i-1), substr($nameCol, i+1))))""".stripMargin)))
        val probes = cust.filter(col("c_custkey") % 11 === 0)
          .select(col("c_custkey").as("probe_key"),
            concat(lit("X"), expr("substr(c_name, 2)")).as("probe_name"))
          .unionAll(cust.filter(col("c_custkey") % 13 === 0)
            .select(col("c_custkey").as("probe_key"),
              concat(expr("substr(c_name, 1, 8)"), expr("substr(c_name, 10)")).as("probe_name")))
        val ck = keyed(cust.select(col("c_custkey"), col("c_name")), "c_name")
        val pk = keyed(probes, "probe_name")
        pk.join(ck, "key")
          .select(col("probe_key"), col("probe_name"), col("c_custkey"), col("c_name"))
          .distinct()
          .withColumn("dist", levenshtein(col("probe_name"), col("c_name")))
          .filter(col("dist") <= 1)
          .drop("c_name")
          .orderBy("probe_key", "probe_name", "c_custkey")
      }),

    // WINSORIZE: clamp values to the per-type [p05, p95] band — the
    // outlier-taming cousin of q_zscore_outliers (flagging) used
    // before training on heavy-tailed features. Percentile bounds by
    // integer RANK SELECTION over DECIMAL values (the
    // q_doc_len_pctl discipline) — no interpolating quantiles, so
    // the band edges are actual data values and cross-engine exact.
    // One rank window + a tiny bounds table broadcast back: the fact
    // is shuffled once (the window) and never for the clamp join.
    // Scale ceiling, stated honestly: the rank window partitions by
    // event_type — low cardinality, so each partition is a per-type
    // total sort. Exact at 100 TB needs a distributed selection; the
    // drop-in fix is the q_approx_pctl sketch bounds (clamping
    // tolerates percentile_approx's 0.1% deterministic rank error),
    // keeping this exact form for bounded inputs and the oracle.
    QDef("q_winsorize", Some("""
      WITH v AS (SELECT event_id, event_type, CAST(value AS DECIMAL(12,2)) AS dv FROM events),
      r AS (SELECT event_type, dv, event_id,
              row_number() OVER (PARTITION BY event_type ORDER BY dv, event_id) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM v),
      b AS (SELECT event_type,
              min(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT)) THEN dv END) AS lo,
              min(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN dv END) AS hi
            FROM r GROUP BY event_type)
      SELECT v.event_id, v.event_type,
        CAST(CASE WHEN v.dv < b.lo THEN b.lo WHEN v.dv > b.hi THEN b.hi ELSE v.dv END AS VARCHAR) AS clamped,
        CASE WHEN v.dv < b.lo OR v.dv > b.hi THEN 1 ELSE 0 END AS was_clamped
      FROM v JOIN b USING (event_type) ORDER BY v.event_id"""),
      (s, d) => {
        val v = t(s, d, "events").select(col("event_id"), col("event_type"),
          col("value").cast("decimal(12,2)").as("dv"))
        val byType = Window.partitionBy("event_type")
        val ranked = v
          .withColumn("rn", row_number().over(byType.orderBy("dv", "event_id")))
          .withColumn("n", count(lit(1)).over(byType))
        val bounds = ranked.groupBy("event_type").agg(
          min(when(col("rn") === greatest(lit(1L), ceil(lit(0.05) * col("n")).cast("long")),
            col("dv"))).as("lo"),
          min(when(col("rn") === ceil(lit(0.95) * col("n")).cast("long"), col("dv"))).as("hi"))
        v.join(broadcast(bounds), "event_type")
          .select(col("event_id"), col("event_type"),
            when(col("dv") < col("lo"), col("lo"))
              .when(col("dv") > col("hi"), col("hi"))
              .otherwise(col("dv")).cast("string").as("clamped"),
            when(col("dv") < col("lo") || col("dv") > col("hi"), 1).otherwise(0)
              .as("was_clamped"))
          .orderBy("event_id")
      }),

    // GRAPH: per-node triangle support over the near-dup graph (the
    // mod-13 Jaccard≥0.6 edge set shared with q_dedup_cluster) —
    // triangle density distinguishes genuine duplicate CLIQUES from
    // chains of pairwise-similar docs before survivor selection.
    // Edges are DEGENERACY-ORIENTED — each undirected edge directed
    // from its lower-(degree, id) endpoint to the higher — before the
    // e(a→b)⋈e(b→c)⋈e(a→c) two-join, so each triangle is still
    // enumerated exactly once (the orientation is acyclic) but the
    // per-node join fan-out is bounded by √(2m), not raw degree: a
    // mega-hub in a 100× near-dup cluster no longer blows a reducer
    // (NearDup.orientByDegree has the proof; the triangle SET — and
    // hence every output row — is orientation-invariant, and both
    // engines run the same oriented plan). The oriented edge set is
    // snapshotted — three scans of one materialization, not three runs
    // of the whole Jaccard pipeline (freed post-action by
    // QDef.withCacheRelease). TriangleOrientationSpec pins the
    // star-graph fan-out bound mechanically.
    QDef("q_triangle_support", Some(s"""
      WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
                 FROM documents WHERE doc_id % 13 = 0),
      tok AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM d),
      sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      kept AS (SELECT t.doc_id, t.tok FROM tok t JOIN (
                 SELECT tok FROM tok GROUP BY tok
                 HAVING count(*) <= ${graft.text.NearDup.TokenDfCap}) lv USING (tok)),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2),
      e0 AS (SELECT doc_a, doc_b FROM inter
             JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
             WHERE i * 10 >= 6 * (sa.n + sb.n - i)),
      deg AS (SELECT v, count(*) AS dg FROM (
                SELECT doc_a AS v FROM e0 UNION ALL SELECT doc_b FROM e0)
              GROUP BY v),
      e AS (SELECT CASE WHEN da.dg <= db.dg THEN doc_a ELSE doc_b END AS src,
                   CASE WHEN da.dg <= db.dg THEN doc_b ELSE doc_a END AS dst
            FROM e0 JOIN deg da ON e0.doc_a = da.v JOIN deg db ON e0.doc_b = db.v),
      tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
              FROM e e1 JOIN e e2 ON e2.src = e1.dst
              JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      m AS (SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      SELECT doc_id, count(*) AS n_triangles FROM m GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        val tok = t(s, d, "documents").filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok")).distinct()
        val und = NearDup.tokenJaccardPairs(tok, "doc_id", "tok", 6,
            dfCap = Some(NearDup.TokenDfCap))
          .filter(col("near_dup") === 1).select("doc_a", "doc_b")
        NearDup.triangleSupport(und).orderBy("doc_id")
      }),

    // GRAPH: local clustering coefficient per node of the same
    // near-dup graph — LCC(v) = triangles(v) / C(deg v, 2) in exact
    // milli. The per-node refinement of q_triangle_support's census:
    // LCC ≈ 1000 marks clique-like duplicate families (drop all but
    // one), low LCC at high degree marks hub/chain structure where
    // pairwise evidence should NOT be transitively trusted — the
    // decision signal between "collapse the cluster" and "review the
    // chain". Reuses the SAME degeneracy-oriented triangle machinery
    // and snapshotted edge list (one snapshot of `und`; the degree
    // aggregate reads those stored blocks, so the Jaccard
    // edge build still runs once); nodes with degree < 2 have no
    // defined LCC and are excluded, triangle-less nodes report 0.
    QDef("q_local_clustering", Some(s"""
      WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
                 FROM documents WHERE doc_id % 13 = 0),
      tok AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM d),
      sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      kept AS (SELECT t.doc_id, t.tok FROM tok t JOIN (
                 SELECT tok FROM tok GROUP BY tok
                 HAVING count(*) <= ${graft.text.NearDup.TokenDfCap}) lv USING (tok)),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2),
      e0 AS (SELECT doc_a, doc_b FROM inter
             JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
             WHERE i * 10 >= 6 * (sa.n + sb.n - i)),
      deg AS (SELECT v, count(*) AS dg FROM (
                SELECT doc_a AS v FROM e0 UNION ALL SELECT doc_b FROM e0)
              GROUP BY v),
      e AS (SELECT CASE WHEN da.dg <= db.dg THEN doc_a ELSE doc_b END AS src,
                   CASE WHEN da.dg <= db.dg THEN doc_b ELSE doc_a END AS dst
            FROM e0 JOIN deg da ON e0.doc_a = da.v JOIN deg db ON e0.doc_b = db.v),
      tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
              FROM e e1 JOIN e e2 ON e2.src = e1.dst
              JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      m AS (SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
      tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM m GROUP BY doc_id)
      SELECT deg.v AS doc_id, deg.dg AS degree,
             coalesce(tc.n_triangles, 0) AS n_triangles,
             (2000 * coalesce(tc.n_triangles, 0)) // (deg.dg * (deg.dg - 1)) AS lcc_milli
      FROM deg LEFT JOIN tc ON deg.v = tc.doc_id
      WHERE deg.dg >= 2 ORDER BY doc_id"""),
      (s, d) => {
        val tok = t(s, d, "documents").filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"), explode(TA.tokens(col("text"))).as("tok")).distinct()
        // r18 OPT: one shared SNAPSHOT of the near-dup edge list for
        // both consumers (triangle machinery + degree pass) — see
        // NearDup.triangleSupportOn; the old persist()-based sharing
        // kept the whole Jaccard edge-build lineage in-plan (454
        // parquet scans / 10.3k formatted lines executed).
        val und = NearDup.tokenJaccardPairs(tok, "doc_id", "tok", 6,
            dfCap = Some(NearDup.TokenDfCap))
          .filter(col("near_dup") === 1).select("doc_a", "doc_b")
          .localCheckpoint(false)
        val tri = NearDup.triangleSupportOn(und)
        val deg = und.select(col("doc_a").as("v"))
          .union(und.select(col("doc_b")))
          .groupBy("v").agg(count(lit(1)).as("degree"))
        deg.filter(col("degree") >= 2)
          .join(tri.withColumnRenamed("doc_id", "v"), Seq("v"), "left")
          .select(col("v").as("doc_id"), col("degree"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
            expr("div(2000 * coalesce(n_triangles, 0), degree * (degree - 1))")
              .as("lcc_milli"))
          .orderBy("doc_id")
      }),

    // Sketch-based QUANTILES: per-type approximate median with a
    // VERIFIED rank bound (the q_approx_distinct discipline for
    // quantiles). The sketch value itself is engine-specific, so the
    // oracle-checked surface is the exact rank-selected median plus
    // a within_bound flag: the sketch's value must sit within ±1% of
    // the target rank — generous against percentile_approx's HARD
    // deterministic n/accuracy=0.1% guarantee (not probabilistic, so
    // the flag can never flip). 100 TB: the OPERATOR (the sketch) is
    // one map-combined pass and the rank check joins a 5-row
    // broadcast; the exact rank-selected median is the ORACLE
    // HARNESS (like q_approx_distinct's countDistinct), not the
    // scale path — its per-type sort window is the cost of making
    // the sketch checkable.
    QDef("q_approx_pctl", Some("""
      WITH v AS (SELECT event_id, event_type, CAST(value AS DECIMAL(12,2)) AS dv FROM events),
      r AS (SELECT event_type, dv,
              row_number() OVER (PARTITION BY event_type ORDER BY dv, event_id) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM v)
      SELECT event_type, n, CAST(dv AS VARCHAR) AS exact_p50,
             CAST(1 AS INTEGER) AS within_bound
      FROM r WHERE rn = greatest(1, CAST(floor(0.5 * n) AS BIGINT))
      ORDER BY event_type"""),
      (s, d) => {
        val v = t(s, d, "events").select(col("event_id"), col("event_type"),
          col("value").cast("decimal(12,2)").as("dv"))
        val byType = Window.partitionBy("event_type")
        val exact = v
          .withColumn("rn", row_number().over(byType.orderBy("dv", "event_id")))
          .withColumn("n", count(lit(1)).over(byType))
          .filter(col("rn") === greatest(lit(1L), floor(lit(0.5) * col("n")).cast("long")))
          .select(col("event_type"), col("n"), col("dv").as("exact_p50"))
        val sketch = v.groupBy("event_type")
          .agg(expr("approx_percentile(dv, 0.5, 1000)").as("ap"))
        val rankCheck = v.join(broadcast(sketch), "event_type")
          .groupBy("event_type").agg(
            sum(when(col("dv") < col("ap"), 1L).otherwise(0L)).as("cnt_lt"),
            sum(when(col("dv") <= col("ap"), 1L).otherwise(0L)).as("cnt_le"))
        val target = floor(lit(0.5) * col("n")).cast("long")
        val tol = greatest(ceil(col("n") * lit(0.01)).cast("long"), lit(3L))
        exact.join(broadcast(rankCheck), "event_type")
          .select(col("event_type"), col("n"),
            col("exact_p50").cast("string").as("exact_p50"),
            (col("cnt_lt") + 1 <= target + tol && col("cnt_le") >= target - tol)
              .cast("int").as("within_bound"))
          .orderBy("event_type")
      }),

    // Conversion FUNNEL: signup → view → purchase with a 1-day
    // deadline per step, each step's clock starting at the previous
    // step's completion (strictly ordered, not bag-of-events). Each
    // step is a selective type-filtered scan (filter reaches the
    // parquet reader) min-joined to the previous step's per-user
    // completion times — equi-joins on user_id, a uniform key; AQE
    // broadcasts the step table while it fits, and the shuffle form
    // stays correct when a 100 TB user base outgrows that.
    QDef("q_funnel_steps", Some("""
      WITH s AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id),
      v AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s ON e.user_id = s.user_id
            WHERE event_type = 'view' AND ts > t1 AND ts <= t1 + INTERVAL 1 DAY GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN v ON e.user_id = v.user_id
            WHERE event_type = 'purchase' AND ts > t2 AND ts <= t2 + INTERVAL 1 DAY GROUP BY e.user_id)
      SELECT 'step1_signup' AS step, count(*) AS users FROM s
      UNION ALL SELECT 'step2_view', count(*) FROM v
      UNION ALL SELECT 'step3_purchase', count(*) FROM p
      ORDER BY step"""),
      (s, d) => {
        val ev = t(s, d, "events")
        def step(evType: String, prev: org.apache.spark.sql.DataFrame,
                 prevT: String, outT: String) =
          ev.filter(col("event_type") === evType)
            .join(prev, "user_id")
            .filter(col("ts") > col(prevT) &&
              col("ts") <= col(prevT) + expr("INTERVAL 1 DAY"))
            .groupBy("user_id").agg(min(col("ts")).as(outT))
        // the three counted branches are independent union subtrees,
        // and Catalyst does not share subplans across branches — so
        // the tiny per-user step tables are snapshotted, or the s3
        // branch would re-run the s1 and s2 scans/aggregates (3
        // events scans instead of 1 at the 100 TB shape).
        // QDef.withCacheRelease frees the snapshots after the action.
        val s1 = QDef.snap(ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("t1")))
        val s2 = QDef.snap(step("view", s1, "t1", "t2"))
        val s3 = step("purchase", s2, "t2", "t3")
        def counted(df: org.apache.spark.sql.DataFrame, name: String) =
          df.agg(count(lit(1)).as("users")).select(lit(name).as("step"), col("users"))
        counted(s1, "step1_signup")
          .unionAll(counted(s2, "step2_view"))
          .unionAll(counted(s3, "step3_purchase"))
          .orderBy("step")
      }),

    // COHORT RETENTION: users grouped by first-touch week, counted
    // as active per week offset — the activation/retention matrix.
    // First-touch is one agg on user_id; the offset derivation joins
    // it back and dedups (user, week) activity before counting, so
    // the final matrix aggregate sees |users|·|weeks| rows, never
    // raw events. Week math stays integral: both engines truncate to
    // ISO weeks and difference whole days / 7.
    QDef("q_cohort_retention", Some("""
      WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY user_id),
      a AS (SELECT DISTINCT e.user_id, f.cohort,
              CAST(date_diff('week', f.cohort, date_trunc('week', e.ts)) AS BIGINT) AS wk
            FROM events e JOIN f ON e.user_id = f.user_id)
      SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, wk, count(*) AS active_users
      FROM a GROUP BY cohort, wk ORDER BY cohort_week, wk"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val f = ev.groupBy("user_id").agg(date_trunc("week", min(col("ts"))).as("cohort"))
        ev.join(f, "user_id")
          .select(col("user_id"), col("cohort"),
            (datediff(date_trunc("week", col("ts")), col("cohort")) / 7)
              .cast("long").as("wk"))
          .distinct()
          .groupBy("cohort", "wk").agg(count(lit(1)).as("active_users"))
          .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
            col("wk"), col("active_users"))
          .orderBy("cohort_week", "wk")
      }),

    // A/B EXPERIMENT READOUT: two-proportion z-test on a per-user
    // conversion metric (≥14 purchases), variants split by
    // user_id % 2, reported entirely in BORN-INTEGER form. With
    // D = c_a·n_b − c_b·n_a, N = n_a+n_b, C = c_a+c_b the pooled
    // z satisfies z² = D²·N/(n_a·n_b·C·(N−C)), so:
    //   z_sign   = sign(D)
    //   z2_milli = (1000·D²·N) div (n_a·n_b·C·(N−C))  [⌊1000·z²⌋]
    //   significant ⇔ |z| > 1.96 ⇔ 10⁴·D²·N > 38416·n_a·n_b·C·(N−C)
    // — exact integer predicates and one truncating division on
    // non-negative operands: no sqrt, no double RENDER (the output
    // columns are BIGINT), so the readout is identical under any
    // oracle engine (the z itself is √(z2_milli/1000) with D's sign
    // — derivable). Degenerate pools (C=0 or C=N) force D=0 → z2
    // NULL via nullif, significant=0, matching the old NULL-z
    // semantics. Magnitudes: 10⁴·D²·N ≈ 4.7e18 at sf0.1 but ~4.7e21
    // at sf1 (D and N both scale with users, so the product scales
    // as SF³) — the r13 sf1 sweep caught the BIGINT overflow live.
    // The D²·N and n_a·n_b·C·(N−C) products therefore route through
    // DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact integer
    // arithmetic on both engines to ~1e38, i.e. user counts past
    // 1e9; only the BIGINT-small quotient crosses the oracle. 100 TB
    // shape: one per-user aggregate, one 2-row variant aggregate,
    // then a 1-row pivot; the fact is shuffled once on user_id.
    QDef("q_ab_readout", Some("""
      WITH u AS (SELECT user_id,
          CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
               THEN 1 ELSE 0 END AS conv
        FROM events GROUP BY user_id),
      v AS (SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(conv) AS BIGINT) AS c FROM u GROUP BY 1),
      w AS (SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
                   max(CASE WHEN variant = 0 THEN c END) AS c_a,
                   max(CASE WHEN variant = 1 THEN n END) AS n_b,
                   max(CASE WHEN variant = 1 THEN c END) AS c_b FROM v),
      m AS (SELECT n_a, c_a, n_b, c_b,
              CAST(c_a AS HUGEINT) * n_b - CAST(c_b AS HUGEINT) * n_a AS dd,
              CAST(n_a AS HUGEINT) * n_b * (c_a + c_b) * (n_a + n_b - c_a - c_b) AS den
            FROM w)
      SELECT n_a, c_a, n_b, c_b,
        CAST(CASE WHEN dd > 0 THEN 1 WHEN dd < 0 THEN -1 ELSE 0 END AS BIGINT) AS z_sign,
        CAST((1000 * dd * dd * (n_a + n_b)) // nullif(den, 0) AS BIGINT) AS z2_milli,
        CAST(CASE WHEN 10000 * dd * dd * (n_a + n_b) > 38416 * den
             THEN 1 ELSE 0 END AS BIGINT) AS significant
      FROM m"""),
      (s, d) => {
        val u = t(s, d, "events").groupBy("user_id").agg(
          when(sum(when(col("event_type") === "purchase", 1).otherwise(0)) >= 14, 1)
            .otherwise(0).as("conv"))
        val v = u.groupBy((col("user_id") % 2).as("variant"))
          .agg(count(lit(1)).as("n"), sum(col("conv")).cast("long").as("c"))
        val w = v.agg(
          max(when(col("variant") === 0, col("n"))).as("n_a"),
          max(when(col("variant") === 0, col("c"))).as("c_a"),
          max(when(col("variant") === 1, col("n"))).as("n_b"),
          max(when(col("variant") === 1, col("c"))).as("c_b"))
        w.withColumn("dd",
            col("c_a").cast("decimal(38,0)") * col("n_b") -
              col("c_b").cast("decimal(38,0)") * col("n_a"))
          .withColumn("den",
            col("n_a").cast("decimal(38,0)") * col("n_b") *
              (col("c_a") + col("c_b")) *
              (col("n_a") + col("n_b") - col("c_a") - col("c_b")))
          .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
            when(col("dd") > 0, 1L).when(col("dd") < 0, -1L).otherwise(0L).as("z_sign"),
            expr("div(1000 * dd * dd * (n_a + n_b), nullif(den, 0))").as("z2_milli"),
            when(lit(10000) * col("dd") * col("dd") * (col("n_a") + col("n_b")) >
                   lit(38416) * col("den"), 1L).otherwise(0L).as("significant"))
      }),

    // Per-source CAP: keep at most 40 docs per source, chosen by a
    // seed-stamped hash priority (md5, doc_id tiebreak) — the
    // domain-balancing cap a corpus needs so one crawl source can't
    // dominate the mixture. Hash priority (not "first N by id")
    // means the kept set is a stable pseudo-random sample: adding
    // NEW docs only displaces the highest hashes, it never reshuffles
    // the whole selection. One rank window per source — bounded
    // output, uniform key, no global sort.
    QDef("q_cap_per_source", Some("""
      WITH r AS (SELECT doc_id, source,
          row_number() OVER (PARTITION BY source
            ORDER BY md5('cap1|' || doc_id), doc_id) AS rn
        FROM documents)
      SELECT doc_id, source, rn FROM r WHERE rn <= 40
      ORDER BY source, rn"""),
      (s, d) => {
        val bySource = Window.partitionBy("source")
          .orderBy(md5(concat(lit("cap1|"), col("doc_id").cast("string"))), col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            row_number().over(bySource).as("rn"))
          .filter(col("rn") <= 40)
          .orderBy("source", "rn")
      }),

    // KEY-SKEW AUDIT: the measurement you run BEFORE choosing a join
    // strategy — per-key row counts for events.user_id, each key's
    // permille share of the table, and a hot flag (count > 2× the
    // mean, i.e. n·n_keys > 2·total in born-integer form). At 100 TB
    // this one map-side-combined aggregate tells you whether the key
    // is uniform (plain shuffle join), has a few hot keys
    // (Ops.saltedJoin / AQE skew splitting), or is degenerate
    // (rethink the key). Totals ride a 1-row broadcast back onto the
    // per-key rows — the fact aggregates once and never re-shuffles.
    QDef("q_key_skew_audit", Some("""
      WITH k AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
      t AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS total FROM k)
      SELECT user_id, n, (1000 * n) // total AS share_permille,
             CASE WHEN n * n_keys > 2 * total THEN 1 ELSE 0 END AS hot
      FROM k, t ORDER BY n DESC, user_id LIMIT 10"""),
      (s, d) => {
        val k = t(s, d, "events").groupBy("user_id").agg(count(lit(1)).as("n"))
        val tot = k.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("total"))
        k.crossJoin(broadcast(tot))
          .select(col("user_id"), col("n"),
            expr("div(1000 * n, total)").as("share_permille"),
            when(col("n") * col("n_keys") > col("total") * 2, 1L)
              .otherwise(0L).as("hot"))
          .orderBy(col("n").desc, col("user_id")).limit(10)
      }),

    // TOKEN-BUDGET selection: greedy per-source corpus fill — docs in
    // pseudo-random priority order (the q_cap_per_source discipline:
    // stable, growth displaces but never reshuffles) are taken while
    // the running token total is still under the source's budget (25%
    // of its total tokens — scale-free, so the query is non-vacuous at
    // every sf). The mixture-construction primitive: "give me ~N
    // tokens per domain", which a COUNT cap can't express when doc
    // lengths vary. The boundary doc may overshoot (greedy fill takes
    // the doc that crosses the line) — deterministic, and how real
    // token-budget samplers behave. Priority is a BORN-INTEGER LCG of
    // doc_id ((a·id+c) mod p — pure BIGINT arithmetic both engines
    // reproduce bit-for-bit, emitted as an output column), NOT an
    // md5-hex string: the r8 driver hash-fail on this query was
    // cross-engine collation of the hex priority deciding cum_tokens
    // values — the same oracle-sensitivity class the round-8
    // born-integer rewrite purged from the nine statistics queries.
    // Shape: tokens are counted in a narrow projection (text never
    // shuffles); budget + running total are TWO windows over ONE
    // source exchange (same partition key ⇒ one hash exchange, one
    // sort); all outputs born-integer BIGINTs, budget via
    // non-negative integer div.
    QDef("q_select_token_budget", Some("""
      WITH tok AS (SELECT doc_id, source,
          (doc_id * 1103515245 + 12345) % 1000000007 AS prio,
          CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
            AS n_tokens
        FROM documents),
      w AS (SELECT doc_id, source, prio, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS total_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY source
            ORDER BY prio, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM tok)
      SELECT doc_id, source, prio, n_tokens, cum_tokens, total_tokens // 4 AS budget
      FROM w WHERE cum_tokens - n_tokens < total_tokens // 4
      ORDER BY source, prio, doc_id"""),
      (s, d) => {
        val tok = t(s, d, "documents").select(col("doc_id"), col("source"),
          ((col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(1000000007L)).as("prio"),
          size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        val bySource = Window.partitionBy("source")
        val fill = Window.partitionBy("source")
          .orderBy(col("prio"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tok
          .withColumn("cum_tokens", sum(col("n_tokens")).over(fill))
          .withColumn("total_tokens", sum(col("n_tokens")).over(bySource))
          .withColumn("budget", expr("div(total_tokens, 4)"))
          .filter(col("cum_tokens") - col("n_tokens") < col("budget"))
          .select(col("doc_id"), col("source"), col("prio"), col("n_tokens"),
            col("cum_tokens"), col("budget"))
          .orderBy("source", "prio", "doc_id")
      }),

    // LAST-TOUCH ATTRIBUTION: each purchase credited to the user's
    // latest click at-or-before it — Ops.asofLastValue (union + ONE
    // window, zero joins), whose equal-ts tiebreak resolves to the
    // greatest click id, matching the oracle's ts DESC, id DESC
    // pick. Purchases with no prior click attribute to NULL. One
    // shuffle on user_id, no join — the oracle's correlated
    // subquery would be a per-row rescan.
    QDef("q_attribution_last_touch", Some("""
      WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
      SELECT p.user_id, p.event_id,
        (SELECT c.event_id FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
         ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
      FROM p ORDER BY p.user_id, p.event_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val probes = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.ops.Ops.asofLastValue(probes, clicks,
            "user_id", "ts", "ts", "event_id", "click_id")
          .select(col("user_id"), col("event_id"), col("click_id"))
          .orderBy("user_id", "event_id")
      }),

    // WEEK-OVER-WEEK growth: weekly revenue per type with the change
    // ratio — the reporting cadence the reference's digest renders —
    // in BORN-INTEGER form: revenue as CENTS (per-row
    // floor(value·100+0.5), then a pure integer sum — exact and
    // aggregation-order-independent without any DECIMAL), and growth
    // as a PERMILLE, sign(Δ)·(1000·|Δ|) div prev. The sign is split
    // out of the division because Spark's `div` truncates toward
    // zero while DuckDB's `//` floors — identical on non-negative
    // operands only, so the division only ever sees |Δ|. No double,
    // no DECIMAL, no render: int64 end to end under any oracle
    // engine. Tiny aggregate (types × weeks rows) after one fact
    // shuffle.
    QDef("q_wow_growth", Some("""
      WITH e AS (SELECT event_type, date_trunc('week', ts) AS wk,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c FROM events),
      m AS (SELECT event_type, wk, CAST(sum(c) AS BIGINT) AS rc FROM e GROUP BY 1, 2),
      g AS (SELECT event_type, wk, rc,
              lag(rc) OVER (PARTITION BY event_type ORDER BY wk) AS prev FROM m)
      SELECT event_type, strftime(wk, '%Y-%m-%d') AS week, rc AS revenue_cents,
        CASE WHEN prev IS NULL OR prev = 0 THEN NULL
             ELSE (CASE WHEN rc >= prev THEN 1 ELSE -1 END) *
                  ((1000 * abs(rc - prev)) // prev)
        END AS wow_permille
      FROM g ORDER BY event_type, week"""),
      (s, d) => {
        val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
        val m = t(s, d, "events")
          .select(col("event_type"), date_trunc("week", col("ts")).as("wk"), cents.as("c"))
          .groupBy("event_type", "wk")
          .agg(sum(col("c")).cast("long").as("rc"))
        val byType = Window.partitionBy("event_type").orderBy("wk")
        m.withColumn("prev", lag(col("rc"), 1).over(byType))
          .select(col("event_type"),
            date_format(col("wk"), "yyyy-MM-dd").as("week"),
            col("rc").as("revenue_cents"),
            when(col("prev").isNull || col("prev") === 0, lit(null))
              .otherwise(
                when(col("rc") >= col("prev"), 1L).otherwise(-1L) *
                  expr("div(1000 * abs(rc - prev), prev)")).as("wow_permille"))
          .orderBy("event_type", "week")
      }),

    // MARKET BASKET: top-20 part pairs co-purchased in the same
    // order, by support. Pair generation is a capped double explode
    // of per-order part sets (ONE collect_set shuffle on orderkey,
    // then narrow fan-out ≤ min(basket, cap)² — the
    // q_cosupplier_degree discipline; the cap is identity at the
    // synthetic max basket of 17 and bounds a 100 TB mega-basket),
    // NOT an orderkey self-join and NOT n² over parts. Top-k by
    // (support, pair) total order via TakeOrderedAndProject, no
    // global sort.
    QDef("q_basket_pairs", Some("""
      WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20"""),
      (s, d) => {
        val baskets = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(graft.ops.SmallestKDistinct.collect(col("l_partkey"),
            GraphStatQueries.HubCap).as("ps"))
        baskets
          .select(explode(col("ps")).as("part_a"), col("ps"))
          .select(col("part_a"), explode(col("ps")).as("part_b"))
          .filter(col("part_a") < col("part_b"))
          .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_orders"))
          .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
          .limit(20)
      }),

    // ROLLING ANOMALY detection: each day's revenue per type scored
    // against its OWN trailing 7-CALENDAR-DAY baseline (a RANGE
    // frame over the integer day number, excluding the current day —
    // a spike must not raise the bar it is judged against, and a
    // gap in the series must not silently stretch the baseline the
    // way a 7-ROW frame would). BORN-INTEGER throughout: daily
    // revenue in CENTS (per-row floor(value·100+0.5), integer sums —
    // exact in any aggregation order), frame moments
    // num = n·rc − Σ, den = n·Σrc² − Σ² as plain BIGINT (z = num/√den
    // — derivable; emitted as the exact rational instead of a
    // rendered double), and the flag via the exact predicate
    // |z| > 2 ⇔ num² > 4·den. No sqrt, no double division, no
    // DECIMAL, no variance floor — a zero-spread window (den = 0)
    // flags only when num ≠ 0, i.e. the day itself deviates. Days
    // with under 4 OBSERVED baseline days score NULL moments, flag 0.
    // One fact shuffle → tiny per-day agg → one window.
    QDef("q_rolling_anomaly", Some("""
      WITH e AS (SELECT event_type, date_trunc('day', ts) AS day,
                   date_diff('day', DATE '1970-01-01', date_trunc('day', ts)) AS dn,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c FROM events),
      d AS (SELECT event_type, day, dn, CAST(sum(c) AS BIGINT) AS rc
            FROM e GROUP BY 1, 2, 3),
      f AS (SELECT event_type, day, rc,
              CAST(count(*) OVER w AS BIGINT) AS n,
              CAST(sum(rc) OVER w AS BIGINT) AS sv,
              CAST(sum(rc * rc) OVER w AS BIGINT) AS svv
            FROM d WINDOW w AS (PARTITION BY event_type ORDER BY dn
              RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day, rc AS revenue_cents,
        CASE WHEN n >= 4 THEN n * rc - sv END AS znum_cents,
        CASE WHEN n >= 4 THEN n * svv - sv * sv END AS zden_cents2,
        CAST(CASE WHEN n >= 4 AND (n * rc - sv) * (n * rc - sv) >
                       4 * (n * svv - sv * sv)
             THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      FROM f ORDER BY event_type, day"""),
      (s, d) => {
        val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
        val daily = t(s, d, "events")
          .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
            datediff(date_trunc("day", col("ts")), to_date(lit("1970-01-01"))).as("dn"),
            cents.as("c"))
          .groupBy("event_type", "day", "dn")
          .agg(sum(col("c")).cast("long").as("rc"))
        val w = Window.partitionBy("event_type").orderBy("dn").rangeBetween(-7, -1)
        daily
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sv", sum(col("rc")).over(w))
          .withColumn("svv", sum(col("rc") * col("rc")).over(w))
          .withColumn("num", col("n") * col("rc") - col("sv"))
          .withColumn("den", col("n") * col("svv") - col("sv") * col("sv"))
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("rc").as("revenue_cents"),
            when(col("n") >= 4, col("num")).as("znum_cents"),
            when(col("n") >= 4, col("den")).as("zden_cents2"),
            when(col("n") >= 4 &&
                   col("num") * col("num") > lit(4) * col("den"), 1L)
              .otherwise(0L).as("anomaly"))
          .orderBy("event_type", "day")
      }),

    // Trailing EWMA (7-day, half-life 1 day) of daily event counts —
    // the smoothing primitive for rate dashboards and drift gates,
    // in EXACT integers: weight 2^(6−lag) for lags 0..6, numerator
    // Σ c·w and denominator Σ w over the OBSERVED days in the
    // window (a gap day contributes neither — the denominator
    // re-normalizes, the LOCF-vs-gap policy stated in the plan, not
    // an accident of a ROWS frame), ewma_milli = 1000·num div den.
    // Lag-dependent weights are why this is NOT one window frame
    // (a frame sum can't weight by distance-to-current-row):
    // instead each day DONATES to its next 7 day-numbers through a
    // 7-row explode and one re-aggregation — fan-out 7 on a
    // day-level aggregate (already tiny), exact under any row
    // order, no self-join of the fact table. At 100 TB the fact
    // pass is the one daily groupBy; everything after is dim-sized.
    QDef("q_ewma_trailing", Some("""
      WITH e AS (SELECT event_type,
                   date_diff('day', DATE '1970-01-01', date_trunc('day', ts)) AS dn,
                   date_trunc('day', ts) AS day FROM events),
      d AS (SELECT event_type, day, dn, CAST(count(*) AS BIGINT) AS c
            FROM e GROUP BY 1, 2, 3),
      don AS (SELECT event_type, dn + lag AS dnr,
                c * (1 << (6 - lag)) AS wc, CAST(1 << (6 - lag) AS BIGINT) AS w
              FROM d CROSS JOIN (SELECT unnest(range(0, 7)) AS lag)),
      a AS (SELECT event_type, dnr, CAST(sum(wc) AS BIGINT) AS ewma_num,
                   CAST(sum(w) AS BIGINT) AS ewma_den
            FROM don GROUP BY 1, 2)
      SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.c AS n_events,
             a.ewma_num, a.ewma_den, (1000 * a.ewma_num) // a.ewma_den AS ewma_milli
      FROM d JOIN a ON d.event_type = a.event_type AND d.dn = a.dnr
      ORDER BY d.event_type, day"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
            datediff(date_trunc("day", col("ts")), to_date(lit("1970-01-01"))).as("dn"))
          .groupBy("event_type", "day", "dn")
          .agg(count(lit(1)).as("c"))
        val don = daily
          .select(col("event_type"), col("dn"), col("c"),
            explode(sequence(lit(0), lit(6))).as("lag"))
          .select(col("event_type"), (col("dn") + col("lag")).as("dnr"),
            (col("c") * expr("shiftleft(1, 6 - lag)")).as("wc"),
            expr("cast(shiftleft(1, 6 - lag) as bigint)").as("w"))
        val agg = don.groupBy(col("event_type").as("et_r"), col("dnr"))
          .agg(sum(col("wc")).cast("long").as("ewma_num"),
            sum(col("w")).cast("long").as("ewma_den"))
        daily.join(agg, col("dn") === col("dnr") && col("event_type") === col("et_r"))
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("c").as("n_events"),
            col("ewma_num"), col("ewma_den"),
            expr("div(1000 * ewma_num, ewma_den)").as("ewma_milli"))
          .orderBy("event_type", "day")
      }),

    // TIME-TO-CONVERT: per converting user, exact seconds from first
    // signup to first subsequent purchase — the latency companion to
    // q_funnel_steps' reach counts (funnels say HOW MANY convert;
    // this says HOW FAST, the input to payback/activation curves).
    // Two filtered aggregates off the multiplexed fact scan and one
    // user-keyed join; the ts >= t0 guard makes the purchase pick
    // order-correct, not just global-min (a purchase BEFORE first
    // signup never counts). Integer epoch-second difference.
    QDef("q_time_to_convert", Some("""
      WITH su AS (SELECT user_id, min(ts) AS t0 FROM events
                  WHERE event_type = 'signup' GROUP BY 1),
      pu AS (SELECT e.user_id, min(e.ts) AS t1
             FROM events e JOIN su ON e.user_id = su.user_id
             WHERE e.event_type = 'purchase' AND e.ts >= su.t0 GROUP BY 1)
      SELECT su.user_id, CAST(date_diff('second', su.t0, pu.t1) AS BIGINT) AS tts_sec
      FROM su JOIN pu ON su.user_id = pu.user_id ORDER BY su.user_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("ts")).as("t0"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu_user"), col("ts").as("pts"))
          .join(su, col("pu_user") === col("user_id") && col("pts") >= col("t0"))
          .groupBy(col("pu_user")).agg(min(col("pts")).as("t1"))
        su.join(pu, col("user_id") === col("pu_user"))
          .select(col("user_id"),
            (unix_timestamp(col("t1")) - unix_timestamp(col("t0"))).as("tts_sec"))
          .orderBy("user_id")
      }),

    // BENFORD first-digit profile of transaction values (the
    // fraud/DQ screen: organically-scaled magnitudes follow
    // log-uniform leading digits; flat or spiked profiles flag
    // synthetic or constrained data). Observed counts + permille
    // share per digit 1-9 over positive cents — pure integers (the
    // Benford EXPECTATION is log10 and stays out of the oracle
    // surface by design; consumers compare against their own
    // rendering of log10(1+1/d)). One narrow projection + dim-sized
    // aggregate + 1-row broadcast total.
    QDef("q_benford_profile", Some("""
      WITH v AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
                 FROM events WHERE value > 0),
      d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM v WHERE cents > 0),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
      SELECT digit, CAST(count(*) AS BIGINT) AS cnt,
             (1000 * count(*)) // t.n AS share_permille
      FROM d, t GROUP BY digit, t.n ORDER BY digit"""),
      (s, d) => {
        val cents = t(s, d, "events").filter(col("value") > 0)
          .select(floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
          .filter(col("cents") > 0)
        val digits = cents.select(
          substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
        val tot = digits.agg(count(lit(1)).as("n"))
        digits.groupBy("digit").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("cnt"),
            expr("div(1000 * cnt, n)").as("share_permille"))
          .orderBy("digit")
      }),

    // DAY-OF-WEEK seasonality profile: per (event_type, weekday)
    // mean daily event count in exact milli (1000·Σcounts div
    // n_days-of-that-weekday) plus its share of the type's weekly
    // mass — the seasonal fingerprint a forecast/anomaly layer
    // conditions on (q_rolling_anomaly judges days against a
    // trailing window; this is the calendar-position complement).
    // ISO weekday via DuckDB isodow / Spark dayofweek remapped —
    // both engines agree on the Monday=1 numbering explicitly, no
    // locale dependence. Dim-sized throughout after one fact pass.
    QDef("q_dow_profile", Some("""
      WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
                   CAST(isodow(ts) AS BIGINT) AS dow,
                   CAST(count(*) AS BIGINT) AS c
                 FROM events GROUP BY 1, 2, 3),
      p AS (SELECT event_type, dow, CAST(sum(c) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_days
            FROM d GROUP BY 1, 2),
      w AS (SELECT event_type, CAST(sum(total) AS BIGINT) AS week_mass FROM p GROUP BY 1)
      SELECT p.event_type, p.dow, p.total, p.n_days,
             (1000 * p.total) // p.n_days AS mean_milli,
             (1000 * p.total) // w.week_mass AS share_permille
      FROM p JOIN w ON p.event_type = w.event_type
      ORDER BY p.event_type, dow"""),
      (s, d) => {
        // Spark dayofweek: Sunday=1..Saturday=7 → ISO Monday=1..Sunday=7
        val iso = expr("cast((dayofweek(ts) + 5) % 7 + 1 as bigint)")
        val daily = t(s, d, "events")
          .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
            iso.as("dow"))
          .groupBy("event_type", "day", "dow").agg(count(lit(1)).as("c"))
        val p = daily.groupBy("event_type", "dow")
          .agg(sum(col("c")).cast("long").as("total"),
            count(lit(1)).as("n_days"))
        val w = p.groupBy(col("event_type").as("et_w"))
          .agg(sum(col("total")).cast("long").as("week_mass"))
        p.join(broadcast(w), col("event_type") === col("et_w"))
          .select(col("event_type"), col("dow"), col("total"), col("n_days"),
            expr("div(1000 * total, n_days)").as("mean_milli"),
            expr("div(1000 * total, week_mass)").as("share_permille"))
          .orderBy("event_type", "dow")
      }),

    // COLUMN PROFILING (the DQ discovery pass a lake runs before
    // writing rules like q_dq_audit's): per column — row count,
    // null/blank count, distinct count, min/max rendered as strings
    // — over a declared column set, computed in ONE scan via a
    // single multi-aggregate projection and unpivoted to tidy
    // (column, metric) rows with stack (the q_unpivot_melt reshape
    // on aggregate outputs; the oracle spells per-column UNION ALL).
    // At 100 TB: one pass, map-side combined, output is
    // 4-rows-per-column metadata.
    QDef("q_column_profile", Some("""
      SELECT col_name, n, n_null, n_distinct, min_str, max_str FROM (
        SELECT 'c_custkey' AS col_name, count(*) AS n,
               count(*) - count(c_custkey) AS n_null,
               CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
               CAST(min(c_custkey) AS VARCHAR) AS min_str,
               CAST(max(c_custkey) AS VARCHAR) AS max_str FROM customer
        UNION ALL
        SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
               CAST(count(DISTINCT c_mktsegment) AS BIGINT),
               min(c_mktsegment), max(c_mktsegment) FROM customer
        UNION ALL
        SELECT 'c_name', count(*), count(*) - count(c_name),
               CAST(count(DISTINCT c_name) AS BIGINT),
               min(c_name), max(c_name) FROM customer)
      ORDER BY col_name"""),
      (s, d) => {
        val cols = Seq("c_custkey", "c_mktsegment", "c_name")
        val aggs = cols.flatMap { c =>
          Seq(count(lit(1)).as(s"${c}__n"),
            (count(lit(1)) - count(col(c))).as(s"${c}__nn"),
            countDistinct(col(c)).as(s"${c}__nd"),
            min(col(c)).cast("string").as(s"${c}__mn"),
            max(col(c)).cast("string").as(s"${c}__mx"))
        }
        val one = t(s, d, "customer").agg(aggs.head, aggs.tail: _*)
        val stackArgs = cols.map(c =>
          s"'$c', ${c}__n, ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx").mkString(", ")
        one.select(expr(
            s"stack(${cols.size}, $stackArgs) AS (col_name, n, n_null, n_distinct, min_str, max_str)"))
          .orderBy("col_name")
      }),

    // CALIBRATION / reliability bins: treating `value` as a model
    // score and purchase as the positive label, bucket scores into
    // 10 equal-WIDTH bins and report per-bin volume, positives and
    // positive rate — the reliability-diagram aggregate every
    // model-quality dashboard needs. Equal-width (not ntile) is the
    // scale decision: bin id is a pure projection off a 1-row
    // broadcast (min,max) — no global rank, no single-partition
    // window (the total-order trap q_quantile_normalize documents;
    // ntile-style equal-count bins are exactly what its histogram
    // technique would provide if wanted). Cents-integer arithmetic
    // end to end; the +1 divisor pins max into bin 9 without a
    // float edge.
    QDef("q_calibration_bins", Some("""
      WITH e AS (SELECT event_id, event_type,
                   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents FROM events),
      mm AS (SELECT min(cents) AS lo, max(cents) AS hi FROM e),
      b AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
              CASE WHEN mm.hi = mm.lo THEN 0
                   ELSE ((cents - mm.lo) * 10) // (mm.hi - mm.lo + 1) END AS bin,
              cents FROM e, mm)
      SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS positives,
             CAST((1000 * sum(pos)) // count(*) AS BIGINT) AS pos_permille,
             min(cents) AS lo_cents, max(cents) AS hi_cents
      FROM b GROUP BY bin ORDER BY bin"""),
      (s, d) => {
        val e = t(s, d, "events").select(col("event_id"), col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        val mm = e.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
        e.crossJoin(broadcast(mm))
          .select(
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"),
            when(col("hi") === col("lo"), 0L)
              .otherwise(expr("div((cents - lo) * 10, hi - lo + 1)")).as("bin"),
            col("cents"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("positives"),
            expr("div(1000 * sum(pos), count(1))").as("pos_permille"),
            min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
          .orderBy("bin")
      }),

    // DATA-QUALITY AUDIT: the dbt-style check suite as one operator —
    // FK orphans (anti joins), null keys, duplicate business keys,
    // domain violations — reported as rule → violation count (the
    // lake's release gate before a mart build). Per-table scalar
    // checks share ONE scan via stack() (two conditional sums, then
    // unpivot); the FK checks are anti joins that prune to the key
    // column before shuffling. d_lineitem_dup_key legitimately fires
    // on the synthetic lake: (l_orderkey, l_linenumber) is NOT
    // unique there — the audit reports it rather than assuming it.
    QDef("q_dq_audit", Some("""
      SELECT * FROM (
        SELECT 'a_lineitem_fk_orders' AS rule, count(*) AS n_violations
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL
        UNION ALL
        SELECT 'b_orders_fk_customer', count(*)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
        UNION ALL
        SELECT 'c_orders_null_key', count(*) FROM orders WHERE o_orderkey IS NULL
        UNION ALL
        SELECT 'd_lineitem_dup_key', count(*) FROM (
          SELECT l_orderkey, l_linenumber FROM lineitem
          GROUP BY 1, 2 HAVING count(*) > 1)
        UNION ALL
        SELECT 'e_lineitem_nonpositive_price', count(*)
        FROM lineitem WHERE l_extendedprice <= 0
        UNION ALL
        SELECT 'f_orders_status_domain', count(*)
        FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')
      ) ORDER BY rule"""),
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val cust = t(s, d, "customer")
        def counted(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("rule"), col("n_violations"))
        val fkLine = counted("a_lineitem_fk_orders",
          li.select("l_orderkey").join(o.select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_anti"))
        val fkOrd = counted("b_orders_fk_customer",
          o.select("o_custkey").join(cust.select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left_anti"))
        val ordScalar = o.agg(
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("c1"),
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)).as("c2"))
          .select(expr("stack(2, 'c_orders_null_key', c1, 'f_orders_status_domain', c2)")
            .as(Seq("rule", "n_violations")))
        val dupKey = counted("d_lineitem_dup_key",
          li.groupBy("l_orderkey", "l_linenumber")
            .agg(count(lit(1)).as("n")).filter(col("n") > 1))
        val price = counted("e_lineitem_nonpositive_price",
          li.filter(col("l_extendedprice") <= 0))
        fkLine.unionAll(fkOrd).unionAll(ordScalar).unionAll(dupKey).unionAll(price)
          .orderBy("rule")
      }),

    // RANK-BASED AUC (Mann-Whitney U) per event type: does the
    // transaction value separate weekend from weekday traffic? The
    // model-eval primitive a training pipeline runs on every scored
    // candidate feature — computed exactly from rank sums, never a
    // sampled ROC sweep. Tie handling is the textbook average-rank
    // correction, done on GROUPED (type, cents) counts so the window
    // walks distinct values (dim-sized), not raw events: one fact
    // pass → per-value counts, one cumulative window, one final
    // dim-sized aggregate. 2·R1 stays integral under ties because
    // 2·avgrank = 2·below + n + 1. auc_micro = ⌊1e6·U1/(n1·n0)⌋.
    // Overflow bound: two_r1 ≤ 2N² per type — exact to N≈2e6 per
    // group at the 1e6 scaling; beyond that drop to permille.
    QDef("q_auc_rank", Some("""
      WITH e AS (SELECT event_type,
          CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
          CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS pos
        FROM events),
      g AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(pos) AS BIGINT) AS npos
            FROM e GROUP BY 1, 2),
      w AS (SELECT event_type, n, npos,
              CAST(coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
            FROM g),
      a AS (SELECT event_type,
              CAST(sum(npos * (2 * below + n + 1)) AS BIGINT) AS two_r1,
              CAST(sum(npos) AS BIGINT) AS n1,
              CAST(sum(n - npos) AS BIGINT) AS n0
            FROM w GROUP BY 1)
      SELECT event_type, n1, n0,
             (1000000 * (two_r1 - n1 * (n1 + 1))) // (2 * n1 * n0) AS auc_micro
      FROM a WHERE n1 > 0 AND n0 > 0 ORDER BY event_type"""),
      (s, d) => {
        // Spark dayofweek: Sunday=1..Saturday=7 → ISO Monday=1..Sunday=7
        val iso = expr("cast((dayofweek(ts) + 5) % 7 + 1 as bigint)")
        val g = t(s, d, "events")
          .select(col("event_type"),
            floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"),
            when(iso >= 6, 1L).otherwise(0L).as("pos"))
          .groupBy("event_type", "cents")
          .agg(count(lit(1)).as("n"), sum("pos").cast("long").as("npos"))
        val wBelow = Window.partitionBy("event_type").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        g.withColumn("below", coalesce(sum(col("n")).over(wBelow), lit(0L)))
          .groupBy("event_type")
          .agg(sum(col("npos") * (lit(2L) * col("below") + col("n") + lit(1L)))
              .cast("long").as("two_r1"),
            sum("npos").cast("long").as("n1"),
            sum(col("n") - col("npos")).cast("long").as("n0"))
          .filter(col("n1") > 0 && col("n0") > 0)
          .select(col("event_type"), col("n1"), col("n0"),
            expr("div(1000000 * (two_r1 - n1 * (n1 + 1)), 2 * n1 * n0)").as("auc_micro"))
          .orderBy("event_type")
      }),

    // FUTURE-WINDOW LABEL GENERATION: per active (user, day), did the
    // user purchase in the NEXT 7 days — the supervised-label join
    // every churn/propensity trainer needs, with the leakage rule
    // (frame starts at day+1, never the label day itself) encoded in
    // the frame bounds rather than left to the feature store. One
    // fact pass → per-user-day aggregate, then a RANGE window over
    // integer day numbers — no self-join, no per-row rescan; at
    // 100 TB this is one shuffle on user_id and a linear walk.
    QDef("q_label_future_window", Some("""
      WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS n_events,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS buys
        FROM events GROUP BY 1, 2),
      n AS (SELECT user_id, day, n_events, buys,
          date_diff('day', DATE '1970-01-01', day) AS dnum FROM daily)
      SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
          CAST(coalesce(max(buys) OVER (PARTITION BY user_id ORDER BY dnum
            RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING), 0) AS BIGINT) AS label_buy_7d
      FROM n ORDER BY user_id, day"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("buys"))
          .withColumn("dnum",
            datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
        val future = Window.partitionBy("user_id").orderBy("dnum").rangeBetween(1, 7)
        daily
          .withColumn("label_buy_7d",
            coalesce(max(col("buys")).over(future), lit(0L)).cast("long"))
          .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n_events"), col("label_buy_7d"))
          .orderBy("user_id", "day")
      }),

    // BEHAVIORAL TRIGRAM MINING: global top-25 event-type trigrams
    // over per-user time-ordered streams (the sequence-pattern
    // statistic feeding next-action models and funnel design;
    // q_markov_transition is the 1-step version, this is the 3-gram).
    // lead()×2 over one user-keyed window — the sequence NEVER
    // materializes as an array (collect_list per user would cap at
    // executor memory on a power user); counts partial-aggregate
    // map-side and the top-25 is a TakeOrdered, not a full sort.
    QDef("q_seq_trigrams", Some("""
      WITH s AS (SELECT event_type AS e0,
          lead(event_type, 1) OVER w AS e1,
          lead(event_type, 2) OVER w AS e2
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT e0 || '>' || e1 || '>' || e2 AS trigram, CAST(count(*) AS BIGINT) AS cnt
      FROM s WHERE e2 IS NOT NULL GROUP BY 1 ORDER BY cnt DESC, trigram LIMIT 25"""),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("e1", lead(col("event_type"), 1).over(w))
          .withColumn("e2", lead(col("event_type"), 2).over(w))
          .filter(col("e2").isNotNull)
          .select(concat_ws(">", col("event_type"), col("e1"), col("e2")).as("trigram"))
          .groupBy("trigram").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("trigram")).limit(25)
      }),

    // SAX-style symbolic discretization of the per-type daily series:
    // each day's count quartile-coded a–d (ntile over the type's own
    // distribution — the integer-exact stand-in for z-score
    // breakpoints) and run together chronologically into one symbol
    // string per type, the compact shape fingerprint driving motif
    // search and cheap series clustering. Daily aggregate is the only
    // fact-sized stage; ntile + the ordered string-assembly run on
    // the dim-sized (type, day) table. Ordered assembly is
    // array_sort(struct(day, sym)) — Spark's collect_list is
    // order-free by contract, sorting AFTER collection is the only
    // deterministic spelling (same trick as q_collect_sorted_set).
    QDef("q_sax_quartile", Some("""
      WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
      q AS (SELECT event_type, day, c,
          ntile(4) OVER (PARTITION BY event_type ORDER BY c, day) AS qt FROM daily)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          string_agg(chr(CAST(96 + qt AS INTEGER)), '' ORDER BY day) AS sax
      FROM q GROUP BY event_type ORDER BY event_type"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val qt = ntile(4).over(
          Window.partitionBy("event_type").orderBy(col("c"), col("day")))
        daily.withColumn("s",
            element_at(array(lit("a"), lit("b"), lit("c"), lit("d")), qt))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            array_join(
              transform(array_sort(collect_list(struct(col("day"), col("s")))),
                x => x.getField("s")), "").as("sax"))
          .orderBy("event_type")
      }),

    // COHORT LTV CURVE: per signup-month cohort and months-since,
    // purchase revenue, active buyers, and the cumulative per-user
    // lifetime value in milli-cents — the revenue companion to
    // q_cohort_retention's activity counts (retention says who came
    // back; this says what they were worth, the payback input next
    // to q_time_to_convert). Cohort = month of FIRST event of any
    // type. Shape: one fact aggregate for cohorts, one user-keyed
    // join of the purchase slice, dim-sized (cohort, age) aggregates
    // + window after — the window walks months, never events.
    QDef("q_cohort_ltv", Some("""
      WITH f AS (SELECT user_id, min(date_trunc('month', ts)) AS cohort_m
                 FROM events GROUP BY 1),
      r AS (SELECT e.user_id, strftime(f.cohort_m, '%Y-%m') AS cohort,
              CAST((year(e.ts) - year(f.cohort_m)) * 12
                   + (month(e.ts) - month(f.cohort_m)) AS BIGINT) AS age,
              CAST(floor(e.value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM events e JOIN f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase'),
      m AS (SELECT cohort, age, CAST(sum(cents) AS BIGINT) AS rev_cents,
              CAST(count(DISTINCT user_id) AS BIGINT) AS buyers
            FROM r GROUP BY 1, 2),
      c AS (SELECT strftime(cohort_m, '%Y-%m') AS cohort,
              CAST(count(*) AS BIGINT) AS cohort_users FROM f GROUP BY 1),
      w AS (SELECT m.cohort, m.age, m.rev_cents, m.buyers, c.cohort_users,
              CAST(sum(m.rev_cents) OVER (PARTITION BY m.cohort ORDER BY m.age)
                AS BIGINT) AS cum_rev_cents
            FROM m JOIN c ON m.cohort = c.cohort)
      SELECT cohort, age, rev_cents, buyers, cohort_users, cum_rev_cents,
             (1000 * cum_rev_cents) // cohort_users AS ltv_milli_cents
      FROM w ORDER BY cohort, age"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val f = ev.groupBy("user_id")
          .agg(min(date_trunc("month", col("ts"))).as("cohort_m"))
        val r = ev.filter(col("event_type") === "purchase")
          .join(f, "user_id")
          .select(col("user_id"),
            date_format(col("cohort_m"), "yyyy-MM").as("cohort"),
            ((year(col("ts")) - year(col("cohort_m"))) * 12
              + (month(col("ts")) - month(col("cohort_m")))).cast("long").as("age"),
            floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        val m = r.groupBy("cohort", "age")
          .agg(sum("cents").cast("long").as("rev_cents"),
            countDistinct("user_id").as("buyers"))
        val c = f.groupBy(date_format(col("cohort_m"), "yyyy-MM").as("cohort_c"))
          .agg(count(lit(1)).as("cohort_users"))
        val w = Window.partitionBy("cohort").orderBy("age")
        m.join(broadcast(c), col("cohort") === col("cohort_c"))
          .withColumn("cum_rev_cents", sum("rev_cents").over(w).cast("long"))
          .select(col("cohort"), col("age"), col("rev_cents"), col("buyers"),
            col("cohort_users"), col("cum_rev_cents"),
            expr("div(1000 * cum_rev_cents, cohort_users)").as("ltv_milli_cents"))
          .orderBy("cohort", "age")
      }),

    // DAILY BOUNCE RATE: share (permille) of 30-minute-gap sessions
    // that contain exactly one event, by session-start day — the
    // engagement-quality headline a product funnel is judged by.
    // Spark side is native session_window (state-store-ready shape,
    // shared with EventStream.sessionCounts); the oracle spells the
    // SAME session semantics via lag + cumulative-sum (gap >= 30 min
    // opens a session — session_window's [start, start+gap) merge
    // rule, parity-pinned the same way as q_window_session). One
    // user-keyed shuffle for sessionization, then day-sized output.
    QDef("q_bounce_rate", Some(s"""
      WITH m AS (SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid FROM m),
      g AS (SELECT user_id, sid, min(ts) AS t0, CAST(count(*) AS BIGINT) AS n
            FROM s GROUP BY 1, 2),
      dday AS (SELECT strftime(date_trunc('day', t0), '%Y-%m-%d') AS day,
              CAST(count(*) AS BIGINT) AS sessions,
              CAST(count(*) FILTER (WHERE n = 1) AS BIGINT) AS bounces
            FROM g GROUP BY 1)
      SELECT day, sessions, bounces, (1000 * bounces) // sessions AS bounce_permille
      FROM dday ORDER BY day"""),
      (s, d) => {
        val g = t(s, d, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        g.select(date_format(date_trunc("day", col("w.start")), "yyyy-MM-dd").as("day"),
            col("n"))
          .groupBy("day")
          .agg(count(lit(1)).as("sessions"),
            sum(when(col("n") === 1, 1L).otherwise(0L)).cast("long").as("bounces"))
          .select(col("day"), col("sessions"), col("bounces"),
            expr("div(1000 * bounces, sessions)").as("bounce_permille"))
          .orderBy("day")
      }),

    // CHI-SQUARE INDEPENDENCE TEST, event_type × ISO weekday: is the
    // traffic mix independent of the calendar? Per-cell observed
    // counts, expected mass, and the χ² contribution — the log-free
    // member of the dependence-test family (next to q_auc_rank's
    // rank test and q_ab_readout's proportions), and exactly
    // integral in two mirrored steps: d_milli = ⌊1000·|O·T − R·C|/T⌋
    // (= 1000·|O−E|), expected_milli = ⌊1000·R·C/T⌋, contrib_milli =
    // ⌊d_milli²/expected_milli⌋ (= 1000·(O−E)²/E up to the declared
    // rounding — the ORACLE computes the identical steps, so the
    // contract is the rounded formula, never engine luck; abs() keeps
    // every div on non-negatives, dodging the floor-vs-truncate trap
    // documented at q_embed_class_margin). The staging is also the
    // overflow guard: squaring the RAW O·T − R·C would blow a long
    // past T≈6·10⁴; d_milli² stays exact to T≈3·10⁹ events. The
    // global statistic is the cell sum a consumer compares to the
    // χ²₍df₎ table — kept per-cell here so the WHERE of dependence
    // is visible, not just the whether. Shape: one fact pass →
    // |types|×7 contingency cells + three broadcast margins —
    // dim-sized everywhere after the scan.
    QDef("q_chi2_independence", Some("""
      WITH o AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
              CAST(count(*) AS BIGINT) AS obs
            FROM events GROUP BY 1, 2),
      r AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rtot FROM o GROUP BY 1),
      c AS (SELECT dow, CAST(sum(obs) AS BIGINT) AS ctot FROM o GROUP BY 1),
      tt AS (SELECT CAST(sum(obs) AS BIGINT) AS t FROM o),
      j AS (SELECT o.event_type, o.dow, o.obs,
              (1000 * r.rtot * c.ctot) // tt.t AS expected_milli,
              (1000 * abs(o.obs * tt.t - r.rtot * c.ctot)) // tt.t AS d_milli
            FROM o JOIN r ON o.event_type = r.event_type
                   JOIN c ON o.dow = c.dow, tt)
      SELECT event_type, dow, obs, expected_milli,
             (d_milli * d_milli) // expected_milli AS contrib_milli
      FROM j ORDER BY event_type, dow"""),
      (s, d) => {
        val iso = expr("cast((dayofweek(ts) + 5) % 7 + 1 as bigint)")
        val o = t(s, d, "events")
          .select(col("event_type"), iso.as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("obs"))
        val r = o.groupBy(col("event_type").as("r_et"))
          .agg(sum("obs").cast("long").as("rtot"))
        val c = o.groupBy(col("dow").as("c_dow"))
          .agg(sum("obs").cast("long").as("ctot"))
        val tt = o.agg(sum("obs").cast("long").as("t"))
        o.join(broadcast(r), col("event_type") === col("r_et"))
          .join(broadcast(c), col("dow") === col("c_dow"))
          .crossJoin(broadcast(tt))
          .select(col("event_type"), col("dow"), col("obs"),
            expr("div(1000 * rtot * ctot, t)").as("expected_milli"),
            expr("div(1000 * abs(obs * t - rtot * ctot), t)").as("d_milli"))
          .select(col("event_type"), col("dow"), col("obs"), col("expected_milli"),
            expr("div(d_milli * d_milli, expected_milli)").as("contrib_milli"))
          .orderBy("event_type", "dow")
      }),

    // SURVEY DESIGN EFFECT: DEFF = 1 + (m̄−1)·ICC over source
    // clusters of doc length — "how much does sampling whole SOURCES
    // (the only practical unit) inflate variance vs simple random
    // sampling of docs?" — the sample-size multiplier every
    // cluster-sampled audit needs (q_sample_neyman allocates strata;
    // this prices the clustering itself). ICC comes from the one-way
    // ANOVA components (q_anova_oneway's exact integer SSB/SSW
    // convention) through ONE fixed chain of exactly-rounded IEEE
    // ops floored once; n₀ is the unequal-cluster-size correction.
    // Three dim-sized aggregates, ONE row.
    QDef("q_design_effect", Some("""
      WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS s,
              CAST(sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
                AS BIGINT) AS ss
            FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
                CAST(sum(s) AS BIGINT) AS ts2, CAST(sum(ss) AS BIGINT) AS tss,
                CAST(sum((s * s) // n) AS BIGINT) AS sq,
                CAST(sum(n * n) AS BIGINT) AS ssqn
              FROM g),
      c AS (SELECT nn, k,
              CAST(sq - (ts2 * ts2) // nn AS BIGINT) AS ssb,
              CAST(tss - sq AS BIGINT) AS ssw, ssqn FROM tot)
      SELECT nn AS n_docs, k AS k_sources, ssb AS ssb_int, ssw AS ssw_int,
             CAST(floor(1000.0 * ((1.0 * nn - (1.0 * ssqn) / nn) / (k - 1)))
               AS BIGINT) AS n0_milli,
             CAST(floor((1000000.0 *
               (((1.0 * ssb) / (k - 1)) - ((1.0 * ssw) / (nn - k)))) /
                (((1.0 * ssb) / (k - 1)) +
                 (((1.0 * nn - (1.0 * ssqn) / nn) / (k - 1)) - 1.0) *
                   ((1.0 * ssw) / (nn - k)))) AS BIGINT) AS icc_micro,
             CAST(floor(1000.0 * (1.0 + ((1.0 * nn) / k - 1.0) *
               ((((1.0 * ssb) / (k - 1)) - ((1.0 * ssw) / (nn - k))) /
                (((1.0 * ssb) / (k - 1)) +
                 (((1.0 * nn - (1.0 * ssqn) / nn) / (k - 1)) - 1.0) *
                   ((1.0 * ssw) / (nn - k)))))) AS BIGINT) AS deff_milli
      FROM c"""),
      (s, d) => {
        val w = col("n_chars").cast("long")
        val g = t(s, d, "documents").groupBy("source")
          .agg(count(lit(1)).as("n"), sum(w).cast("long").as("s"),
            sum(w * w).cast("long").as("ss"))
        val tot = g.agg(sum("n").cast("long").as("nn"), count(lit(1)).as("k"),
          sum("s").cast("long").as("ts2"), sum("ss").cast("long").as("tss"),
          sum(expr("div(s * s, n)")).cast("long").as("sq"),
          sum(col("n") * col("n")).cast("long").as("ssqn"))
        val c = tot.select(col("nn"), col("k"),
          (col("sq") - expr("div(ts2 * ts2, nn)")).cast("long").as("ssb"),
          (col("tss") - col("sq")).cast("long").as("ssw"), col("ssqn"))
        // the IEEE chains below mirror the oracle's trees EXACTLY —
        // icc_micro deliberately scales the NUMERATOR before dividing
        // ((1e6 * num) / den) on BOTH engines: 1e6 * (num / den) is a
        // different IEEE tree that lands 1 ulp away on ~1/3 of inputs,
        // enough to flip the floor at a boundary (ADVICE r10)
        val msb = (lit(1.0) * col("ssb")) / (col("k") - 1)
        val msw = (lit(1.0) * col("ssw")) / (col("nn") - col("k"))
        val n0 = (lit(1.0) * col("nn") - (lit(1.0) * col("ssqn")) / col("nn")) /
          (col("k") - 1)
        val icc = (msb - msw) / (msb + (n0 - lit(1.0)) * msw)
        c.select(col("nn").as("n_docs"), col("k").as("k_sources"),
          col("ssb").as("ssb_int"), col("ssw").as("ssw_int"),
          floor(lit(1000.0) * n0).cast("long").as("n0_milli"),
          floor((lit(1000000.0) * (msb - msw)) /
            (msb + (n0 - lit(1.0)) * msw)).cast("long").as("icc_micro"),
          floor(lit(1000.0) * (lit(1.0) +
            ((lit(1.0) * col("nn")) / col("k") - lit(1.0)) * icc))
            .cast("long").as("deff_milli"))
      }),

    // ALLAN VARIANCE over daily event counts — the frequency-
    // stability diagnostic at averaging windows τ ∈ {1, 2, 4} days:
    // AVAR(τ) = Σ(ȳ_{b+1} − ȳ_b)² / (2(m−1)) over τ-day block sums.
    // Where the ACF (q_acf_lags) asks "how correlated", Allan asks
    // "which NOISE regime" — flat AVAR·τ is white noise, rising is
    // drift — the telemetry-health view SRE burn-rate alerts assume.
    // Exact: block sums are integers, consecutive diffs ride one lag
    // window per (type, τ) over the tiny block table, and the output
    // floors 1000·Σd² div 2(m−1) once. The three τ branches reuse
    // the SAME daily aggregate.
    QDef("q_allan_variance", Some("""
      WITH daily AS (SELECT event_type,
              epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
              CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
      b AS (SELECT tau, event_type, blk, CAST(sum(y) AS BIGINT) AS yb FROM (
              SELECT 1 AS tau, event_type, dnum AS blk, y FROM daily
              UNION ALL SELECT 2, event_type, dnum // 2, y FROM daily
              UNION ALL SELECT 4, event_type, dnum // 4, y FROM daily)
            GROUP BY 1, 2, 3),
      df AS (SELECT tau, event_type,
               yb - lag(yb) OVER (PARTITION BY tau, event_type ORDER BY blk)
                 AS dd
             FROM b)
      SELECT CAST(tau AS BIGINT) AS tau, event_type,
             CAST(count(dd) AS BIGINT) AS n_diffs,
             CAST(sum(dd * dd) AS BIGINT) AS sum_sq_diff,
             CAST((1000 * sum(dd * dd)) // (2 * count(dd)) AS BIGINT)
               AS avar_milli
      FROM df WHERE dd IS NOT NULL
      GROUP BY 1, 2 ORDER BY tau, event_type"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)").as("dnum"))
          .agg(count(lit(1)).as("y"))
        val stacked = Seq(1, 2, 4).map(tau =>
          daily.select(lit(tau.toLong).as("tau"), col("event_type"),
            expr(s"div(dnum, $tau)").as("blk"), col("y")))
          .reduce(_ unionByName _)
        val b = stacked.groupBy("tau", "event_type", "blk")
          .agg(sum("y").cast("long").as("yb"))
        val w = Window.partitionBy("tau", "event_type").orderBy("blk")
        b.withColumn("dd", col("yb") - lag("yb", 1).over(w))
          .filter(col("dd").isNotNull)
          .groupBy("tau", "event_type")
          .agg(count(lit(1)).as("n_diffs"),
            sum(col("dd") * col("dd")).cast("long").as("sum_sq_diff"))
          .select(col("tau"), col("event_type"), col("n_diffs"),
            col("sum_sq_diff"),
            expr("div(1000 * sum_sq_diff, 2 * n_diffs)").as("avar_milli"))
          .orderBy("tau", "event_type")
      }),

    // CAPTURE–RECAPTURE (Lincoln–Petersen + Chapman): estimate the
    // TRUE user-base size from two observation windows — users seen
    // in the first half (n1), the second half (n2), and both (m) give
    // N̂ = n1·n2/m, with Chapman's (n1+1)(n2+1)/(m+1) − 1 as the
    // small-m-robust variant — the ecology estimator that audits
    // "how many users exist that we NEVER see" (coverage_permille =
    // observed/N̂), which no direct count can answer. The window cut
    // is the discrete median day (scale-adaptive broadcast scalar);
    // both sightings sets are one distinct-projection aggregate; all
    // estimates exact integer divisions. ONE row.
    QDef("q_capture_recapture", Some("""
      WITH e AS (SELECT DISTINCT user_id,
              CASE WHEN epoch_us(date_trunc('day', ts)) // 86400000000 <=
                (SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dnum)
                   AS BIGINT)
                 FROM (SELECT DISTINCT epoch_us(date_trunc('day', ts))
                         // 86400000000 AS dnum FROM events))
              THEN 1 ELSE 2 END AS half
            FROM events),
      tt AS (SELECT
          CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(count(DISTINCT user_id) AS BIGINT) AS observed
        FROM e),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM
             (SELECT user_id FROM e GROUP BY user_id HAVING count(*) = 2))
      SELECT n1, n2, mm.m, observed,
             CAST((n1 * n2) // mm.m AS BIGINT) AS lincoln_petersen,
             CAST((n1 + 1) * (n2 + 1) // (mm.m + 1) - 1 AS BIGINT) AS chapman,
             CAST((1000 * observed * mm.m) // (n1 * n2) AS BIGINT)
               AS coverage_permille
      FROM tt, mm"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val ev = t(s, d, "events").select(col("user_id"), dn.as("dnum"))
        val cut = ev.select("dnum").distinct()
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dnum)")
            .cast("long").as("cut"))
        val e = ev.crossJoin(broadcast(cut))
          .select(col("user_id"),
            when(col("dnum") <= col("cut"), 1L).otherwise(2L).as("half"))
          .distinct()
        val tt = e.agg(
          sum(when(col("half") === 1, 1L).otherwise(0L)).cast("long").as("n1"),
          sum(when(col("half") === 2, 1L).otherwise(0L)).cast("long").as("n2"),
          countDistinct("user_id").as("observed"))
        val mm = e.groupBy("user_id").agg(count(lit(1)).as("k"))
          .filter(col("k") === 2).agg(count(lit(1)).as("m"))
        tt.crossJoin(broadcast(mm))
          .select(col("n1"), col("n2"), col("m"), col("observed"),
            expr("div(n1 * n2, m)").as("lincoln_petersen"),
            (expr("div((n1 + 1) * (n2 + 1), m + 1)") - lit(1L)).as("chapman"),
            expr("div(1000 * observed * m, n1 * n2)").as("coverage_permille"))
      }),

    // GOOD–TURING frequency smoothing: the frequency-of-frequencies
    // table N_r with the discounted estimate r* = (r+1)·N_{r+1}/N_r
    // in milli — the LM-smoothing primitive behind Katz backoff
    // ("how much probability mass do unseen tokens deserve?" is
    // N_1/N, read straight off row r=1; q_vocab_hapax counts the
    // hapaxes, this turns them into the estimator). The freq-of-freq
    // table derives from the token count in one extra map-side
    // aggregate (|distinct r| rows — tiny at any corpus size); r*
    // comes from a self-join on r+1 (broadcast). All exact integers;
    // rows with no N_{r+1} successor emit NULL (the raw-count
    // fallback regime, reported honestly rather than extrapolated).
    // Emitted rows are the lowest 10 DISTINCT r values (scale-
    // adaptive; a fixed r ≤ K cut is vacuous when every token's
    // frequency scales past K with the corpus).
    QDef("q_good_turing", Some("""
      WITH tk AS (SELECT tok FROM
          (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          WHERE tok <> ''),
      f AS (SELECT tok, CAST(count(*) AS BIGINT) AS r FROM tk GROUP BY 1),
      nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM f GROUP BY 1),
      j AS (SELECT a.r, a.n_r, b.n_r AS n_r1 FROM nr a
            LEFT JOIN nr b ON b.r = a.r + 1)
      SELECT r, n_r,
             CAST((1000 * (r + 1) * n_r1) // n_r AS BIGINT) AS r_star_milli
      FROM j ORDER BY r LIMIT 10"""),
      (s, d) => {
        val f = t(s, d, "documents")
          .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("r"))
        val nr = f.groupBy("r").agg(count(lit(1)).as("n_r"))
        // the emitted prefix is the LOWEST 10 distinct r values — the
        // GT regime of interest — never a fixed r cutoff (frequencies
        // scale with the corpus; a constant cut goes vacuous at small
        // SF and truncates at large, the scale-adaptive-scalar rule)
        nr.join(broadcast(nr.select((col("r") - 1).as("r"),
            col("n_r").as("n_r1"))), Seq("r"), "left")
          .select(col("r"), col("n_r"),
            expr("div(1000 * (r + 1) * n_r1, n_r)").as("r_star_milli"))
          .orderBy("r").limit(10)
      }),

    // ODDS RATIO + RISK RATIO for the weekend→purchase 2×2 table —
    // the epidemiology pair the A/B tier doesn't carry (the delta-CI
    // and χ² queries test DIFFERENCES; OR/RR are the multiplicative
    // exposure readouts a funnel analyst quotes). Both are exact
    // integer cross-ratios in milli: OR = 1000·a·d div (b·c),
    // RR = 1000·a·(c+d) div (c·(a+b)) — no float anywhere, products
    // ≤ ~10¹¹ at bench SFs. One conditional aggregate builds the
    // whole table; output is ONE row.
    QDef("q_odds_risk_ratio", Some("""
      WITH e AS (SELECT CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS exposed,
              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
            FROM events),
      tt AS (SELECT
          CAST(sum(CASE WHEN exposed = 1 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN exposed = 1 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
          CAST(sum(CASE WHEN exposed = 0 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(sum(CASE WHEN exposed = 0 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM e)
      SELECT a, b, c, d,
             CAST((1000 * a * d) // (b * c) AS BIGINT) AS odds_ratio_milli,
             CAST((1000 * a * (c + d)) // (c * (a + b)) AS BIGINT)
               AS risk_ratio_milli
      FROM tt"""),
      (s, d) => {
        val iso = expr("cast((dayofweek(ts) + 5) % 7 + 1 as bigint)")
        t(s, d, "events")
          .select(when(iso >= 6, 1L).otherwise(0L).as("exposed"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
          .agg(
            sum(when(col("exposed") === 1 && col("pos") === 1, 1L).otherwise(0L))
              .cast("long").as("a"),
            sum(when(col("exposed") === 1 && col("pos") === 0, 1L).otherwise(0L))
              .cast("long").as("b"),
            sum(when(col("exposed") === 0 && col("pos") === 1, 1L).otherwise(0L))
              .cast("long").as("c"),
            sum(when(col("exposed") === 0 && col("pos") === 0, 1L).otherwise(0L))
              .cast("long").as("d"))
          .select(col("a"), col("b"), col("c"), col("d"),
            expr("div(1000 * a * d, b * c)").as("odds_ratio_milli"),
            expr("div(1000 * a * (c + d), c * (a + b))").as("risk_ratio_milli"))
      }),

    // POISSON RATE CI per event type: daily arrival rate with the
    // normal-approximation 95% band — rate ± 1.96·√n/T, the
    // monitoring annotation that turns a raw count into "is today's
    // rate outside yesterday's band?" (q_xmr_chart bounds the SERIES;
    // this bounds the RATE estimate itself). The only irrational step
    // is one √n per type, multiplied through the exactly-rounded
    // fixed tree (1960.0·√n)/T and floored once — the
    // q_sequential_peeking discipline; everything else is integer.
    // T (observed day span) rides a 1-row broadcast.
    QDef("q_rate_ci", Some("""
      WITH e AS (SELECT event_type,
              epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum FROM events),
      span AS (SELECT CAST(max(dnum) - min(dnum) + 1 AS BIGINT) AS t FROM e),
      n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1)
      SELECT n.event_type, n.n, span.t AS n_days,
             CAST((1000 * n.n) // span.t AS BIGINT) AS rate_milli,
             CAST((1000 * n.n) // span.t
               - CAST(floor((1960.0 * sqrt(1.0 * n.n)) / (1.0 * span.t)) AS BIGINT)
               AS BIGINT) AS lo_milli,
             CAST((1000 * n.n) // span.t
               + CAST(floor((1960.0 * sqrt(1.0 * n.n)) / (1.0 * span.t)) AS BIGINT)
               AS BIGINT) AS hi_milli
      FROM n, span ORDER BY event_type"""),
      (s, d) => {
        val e = t(s, d, "events").select(col("event_type"),
          expr("div(unix_micros(date_trunc('day', ts)), 86400000000)").as("dnum"))
        val span = e.agg((max("dnum") - min("dnum") + lit(1L)).cast("long").as("t"))
        val hw = floor(lit(1960.0) * sqrt(lit(1.0) * col("n")) /
          (lit(1.0) * col("t"))).cast("long")
        e.groupBy("event_type").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(span))
          .select(col("event_type"), col("n"), col("t").as("n_days"),
            expr("div(1000 * n, t)").as("rate_milli"),
            (expr("div(1000 * n, t)") - hw).as("lo_milli"),
            (expr("div(1000 * n, t)") + hw).as("hi_milli"))
          .orderBy("event_type")
      }),

    // PARTITION-GRAIN ADVISOR: the table-layout decision BEFORE the
    // first write — for day / week / month candidate grains, the
    // partition census (count, avg/max/min rows, max-over-avg skew
    // permille, distance to a 20k-rows/partition target) that says
    // which grain gives healthy file sizes without small-file bloat
    // (too fine = metadata storms, too coarse = unprunable monsters;
    // q_zonemap_prune_audit measures the pruning payoff AFTER this
    // choice). One pass builds all three candidate keyings via a
    // 3-way projection union; each census is a map-side-combined
    // aggregate over partition keys — metadata-sized at any fact
    // scale.
    QDef("q_partition_grain_advisor", Some("""
      WITH e AS (SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum
                 FROM events),
      g AS (SELECT 'a_day' AS grain, dnum AS pk FROM e
            UNION ALL SELECT 'b_week', dnum // 7 FROM e
            UNION ALL SELECT 'c_month', dnum // 30 FROM e),
      p AS (SELECT grain, pk, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1, 2),
      a AS (SELECT grain, CAST(count(*) AS BIGINT) AS n_partitions,
              CAST(sum(n) AS BIGINT) AS total, CAST(max(n) AS BIGINT) AS max_rows,
              CAST(min(n) AS BIGINT) AS min_rows
            FROM p GROUP BY 1)
      SELECT grain, n_partitions, total // n_partitions AS avg_rows,
             max_rows, min_rows,
             CAST((1000 * max_rows * n_partitions) // total AS BIGINT)
               AS skew_permille,
             abs(total // n_partitions - 20000) AS target_gap
      FROM a ORDER BY grain"""),
      (s, d) => {
        val e = t(s, d, "events").select(
          expr("div(unix_micros(date_trunc('day', ts)), 86400000000)").as("dnum"))
        val g = e.select(lit("a_day").as("grain"), col("dnum").as("pk"))
          .unionByName(e.select(lit("b_week").as("grain"),
            expr("div(dnum, 7)").as("pk")))
          .unionByName(e.select(lit("c_month").as("grain"),
            expr("div(dnum, 30)").as("pk")))
        g.groupBy("grain", "pk").agg(count(lit(1)).as("n"))
          .groupBy("grain")
          .agg(count(lit(1)).as("n_partitions"), sum("n").cast("long").as("total"),
            max("n").cast("long").as("max_rows"),
            min("n").cast("long").as("min_rows"))
          .select(col("grain"), col("n_partitions"),
            expr("div(total, n_partitions)").as("avg_rows"),
            col("max_rows"), col("min_rows"),
            expr("div(1000 * max_rows * n_partitions, total)").as("skew_permille"),
            abs(expr("div(total, n_partitions)") - lit(20000L)).as("target_gap"))
          .orderBy("grain")
      }),

    // GAINS / LIFT CURVE: treating `value` as the model score and
    // purchase as the positive, the decile-ranked cumulative-lift
    // table every targeting campaign is judged by ("the top score
    // decile captures X× its share of conversions"). Deciles come
    // from NINE percentile_disc boundaries broadcast back onto a
    // projection — never ntile over the fact (the global-sort trap;
    // the q_curriculum_schedule discipline), so ties land
    // deterministically in the same decile on both engines. Lift is
    // the exact integer cross-ratio 1000·cum_pos·n_total div
    // (cum_n·pos_total), cumulated over a 10-row window.
    QDef("q_gains_curve", Some("""
      WITH e AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
            FROM events),
      b AS (SELECT CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b1,
              CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b2,
              CAST(percentile_disc(0.3) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b3,
              CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b4,
              CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b5,
              CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b6,
              CAST(percentile_disc(0.7) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b7,
              CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b8,
              CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS b9
            FROM e),
      dd AS (SELECT CAST(1 + CAST(cents > b1 AS INTEGER)
               + CAST(cents > b2 AS INTEGER) + CAST(cents > b3 AS INTEGER)
               + CAST(cents > b4 AS INTEGER) + CAST(cents > b5 AS INTEGER)
               + CAST(cents > b6 AS INTEGER) + CAST(cents > b7 AS INTEGER)
               + CAST(cents > b8 AS INTEGER) + CAST(cents > b9 AS INTEGER)
               AS BIGINT) AS decile, pos
             FROM e, b),
      dc AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS npos FROM dd GROUP BY 1),
      cum AS (SELECT decile, n, npos,
                CAST(sum(n) OVER w AS BIGINT) AS cum_n,
                CAST(sum(npos) OVER w AS BIGINT) AS cum_pos,
                CAST(sum(n) OVER () AS BIGINT) AS tot_n,
                CAST(sum(npos) OVER () AS BIGINT) AS tot_pos
              FROM dc WINDOW w AS (ORDER BY decile DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT decile, n, npos, cum_n, cum_pos,
             CAST((1000 * cum_pos * tot_n) // (cum_n * tot_pos) AS BIGINT)
               AS cum_lift_permille
      FROM cum ORDER BY decile DESC"""),
      (s, d) => {
        val e = t(s, d, "events").select(
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        val bCols = (1 to 9).map(i =>
          expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY cents)")
            .cast("long").as(s"b$i"))
        val b = e.agg(bCols.head, bCols.tail: _*)
        val decile = (1 to 9).map(i =>
          (col("cents") > col(s"b$i")).cast("long")).reduce(_ + _) + lit(1L)
        val dc = e.crossJoin(broadcast(b))
          .select(decile.as("decile"), col("pos"))
          .groupBy("decile").agg(count(lit(1)).as("n"),
            sum("pos").cast("long").as("npos"))
        val w = Window.orderBy(col("decile").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tw = Window.partitionBy()
        dc.withColumn("cum_n", sum("n").over(w).cast("long"))
          .withColumn("cum_pos", sum("npos").over(w).cast("long"))
          .withColumn("tot_n", sum("n").over(tw).cast("long"))
          .withColumn("tot_pos", sum("npos").over(tw).cast("long"))
          .select(col("decile"), col("n"), col("npos"), col("cum_n"),
            col("cum_pos"),
            expr("div(1000 * cum_pos * tot_n, cum_n * tot_pos)")
              .as("cum_lift_permille"))
          .orderBy(col("decile").desc)
      }),

    // MARKOV NEXT-EVENT BACKTEST: train the 1-step transition
    // predictor (argmax successor per type, count-desc type-asc
    // tiebreak) on the FIRST temporal half and score it on the
    // SECOND — the honest sequence-model evaluation
    // q_markov_transition's in-sample matrix can't give (a model
    // that memorizes the majority successor looks perfect in-sample;
    // the split says what transfers). The cut is the DISCRETE MEDIAN
    // day — a broadcast quantile scalar, so the split adapts to any
    // SF. Transitions come from ONE user-keyed lag window
    // (ts, event_id total order); train matrix and test scoring are
    // |types|²-sized after that single fact pass.
    QDef("q_markov_backtest", Some("""
      WITH ev AS (SELECT user_id, event_type, ts, event_id,
              epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum FROM events),
      md AS (SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dnum)
               AS BIGINT) AS cut
             FROM (SELECT DISTINCT dnum FROM ev)),
      tr AS (SELECT user_id, event_type, dnum,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev
             FROM ev),
      trn AS (SELECT prev, event_type AS nxt, count(*) AS c
              FROM tr, md WHERE prev IS NOT NULL AND dnum <= cut GROUP BY 1, 2),
      pred AS (SELECT prev, nxt AS pred_next FROM trn
               QUALIFY row_number() OVER (PARTITION BY prev ORDER BY c DESC, nxt) = 1),
      tst AS (SELECT tr.prev, tr.event_type AS actual FROM tr, md
              WHERE tr.prev IS NOT NULL AND tr.dnum > cut)
      SELECT t.prev AS prev_type, p.pred_next,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN t.actual = p.pred_next THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct,
             CAST((1000 * sum(CASE WHEN t.actual = p.pred_next THEN 1 ELSE 0 END))
               // count(*) AS BIGINT) AS acc_permille
      FROM tst t JOIN pred p ON t.prev = p.prev
      GROUP BY 1, 2 ORDER BY prev_type"""),
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"), col("event_type"),
          col("ts"), col("event_id"),
          expr("div(unix_micros(date_trunc('day', ts)), 86400000000)").as("dnum"))
        val md = ev.select("dnum").distinct()
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dnum)")
            .cast("long").as("cut"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val tr = ev.withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNotNull)
          .crossJoin(broadcast(md))
        val pred = tr.filter(col("dnum") <= col("cut"))
          .groupBy(col("prev"), col("event_type").as("nxt"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("prev").orderBy(col("c").desc, col("nxt"))))
          .filter(col("rn") === 1)
          .select(col("prev").as("pp"), col("nxt").as("pred_next"))
        tr.filter(col("dnum") > col("cut"))
          .select(col("prev"), col("event_type").as("actual"))
          .join(broadcast(pred), col("prev") === col("pp"))
          .groupBy(col("prev").as("prev_type"), col("pred_next"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("actual") === col("pred_next"), 1L).otherwise(0L))
              .cast("long").as("n_correct"))
          .select(col("prev_type"), col("pred_next"), col("n_test"),
            col("n_correct"),
            expr("div(1000 * n_correct, n_test)").as("acc_permille"))
          .orderBy("prev_type")
      }),

    // RAKING / IPF (one full row→column sweep): post-stratification
    // weights that calibrate a BIASED sample (user_id ≡ 0 mod 3, the
    // survey-frame stand-in) back to the population's event_type ×
    // weekday margins — the survey-statistics primitive behind every
    // "weighted to census margins" readout. Step 1 scales each row
    // stratum to its population row margin (w1 = 1000·R/r, exact
    // milli); step 2 rescales by column so the WEIGHTED column mass
    // matches the population column margin (w2 = w1·1000·C div C′ —
    // all born-integer products, ≤ ~10¹³). Margins are dim-sized
    // broadcasts; the sweep never rescans the fact beyond two
    // aggregates.
    QDef("q_raking_ipf", Some("""
      WITH pop AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
              CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      smp AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
              CAST(count(*) AS BIGINT) AS n FROM events
              WHERE user_id % 3 = 0 GROUP BY 1, 2),
      rpop AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS rt FROM pop GROUP BY 1),
      rsmp AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS rs FROM smp GROUP BY 1),
      cpop AS (SELECT dow, CAST(sum(n) AS BIGINT) AS ct FROM pop GROUP BY 1),
      s1 AS (SELECT smp.event_type, smp.dow, smp.n,
               CAST((1000 * rpop.rt) // rsmp.rs AS BIGINT) AS w1
             FROM smp JOIN rpop ON smp.event_type = rpop.event_type
                      JOIN rsmp ON smp.event_type = rsmp.event_type),
      cw AS (SELECT dow, CAST(sum(n * w1) AS BIGINT) AS cprime
             FROM s1 GROUP BY 1)
      SELECT s1.event_type, s1.dow, s1.n AS n_sample, s1.w1 AS w1_milli,
             CAST((s1.w1 * 1000 * cpop.ct) // cw.cprime AS BIGINT) AS w2_milli
      FROM s1 JOIN cpop ON s1.dow = cpop.dow JOIN cw ON s1.dow = cw.dow
      ORDER BY s1.event_type, s1.dow"""),
      (s, d) => {
        val iso = expr("cast((dayofweek(ts) + 5) % 7 + 1 as bigint)")
        val pop = t(s, d, "events").select(col("event_type"), iso.as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
        val smp = t(s, d, "events").filter(col("user_id") % 3 === 0)
          .select(col("event_type"), iso.as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
        val rpop = pop.groupBy(col("event_type").as("re"))
          .agg(sum("n").cast("long").as("rt"))
        val rsmp = smp.groupBy(col("event_type").as("se"))
          .agg(sum("n").cast("long").as("rs"))
        val cpop = pop.groupBy(col("dow").as("cd"))
          .agg(sum("n").cast("long").as("ct"))
        val s1 = smp
          .join(broadcast(rpop), col("event_type") === col("re"))
          .join(broadcast(rsmp), col("event_type") === col("se"))
          .select(col("event_type"), col("dow"), col("n"),
            expr("div(1000 * rt, rs)").as("w1"))
        val cw = s1.groupBy(col("dow").as("wd"))
          .agg(sum(col("n") * col("w1")).cast("long").as("cprime"))
        s1.join(broadcast(cpop), col("dow") === col("cd"))
          .join(broadcast(cw), col("dow") === col("wd"))
          .select(col("event_type"), col("dow"), col("n").as("n_sample"),
            col("w1").as("w1_milli"),
            expr("div(w1 * 1000 * ct, cprime)").as("w2_milli"))
          .orderBy("event_type", "dow")
      }),

    // TUKEY MEDIAN POLISH (one sweep): the ROBUST two-way
    // decomposition of the event_type × weekday count table — row
    // medians removed, then column medians of the residuals — the
    // outlier-resistant sibling of q_seasonal_decompose's mean-based
    // split (one wild day shifts a mean but not a median; what
    // survives the polish IS the anomaly). Medians are
    // percentile_disc — ALWAYS an existing cell value, so every
    // column stays born-integer BIGINT with no midpoint float. The
    // table is |types|×7; both median passes are dim-sized.
    QDef("q_median_polish", Some("""
      WITH cellt AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
              CAST(count(*) AS BIGINT) AS v FROM events GROUP BY 1, 2),
      rm AS (SELECT event_type, CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v)
               AS BIGINT) AS row_med FROM cellt GROUP BY 1),
      d1 AS (SELECT c.event_type, c.dow, c.v, rm.row_med,
               c.v - rm.row_med AS det
             FROM cellt c JOIN rm ON c.event_type = rm.event_type),
      cm AS (SELECT dow, CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY det)
               AS BIGINT) AS col_med FROM d1 GROUP BY 1)
      SELECT d1.event_type, d1.dow, d1.v, d1.row_med, cm.col_med,
             d1.det - cm.col_med AS residual
      FROM d1 JOIN cm ON d1.dow = cm.dow
      ORDER BY d1.event_type, d1.dow"""),
      (s, d) => {
        val iso = expr("cast((dayofweek(ts) + 5) % 7 + 1 as bigint)")
        val cellT = t(s, d, "events").select(col("event_type"), iso.as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("v"))
        val rm = cellT.groupBy(col("event_type").as("re"))
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
            .cast("long").as("row_med"))
        val d1 = cellT.join(broadcast(rm), col("event_type") === col("re"))
          .select(col("event_type"), col("dow"), col("v"), col("row_med"),
            (col("v") - col("row_med")).as("det"))
        val cm = d1.groupBy(col("dow").as("cd"))
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY det)")
            .cast("long").as("col_med"))
        d1.join(broadcast(cm), col("dow") === col("cd"))
          .select(col("event_type"), col("dow"), col("v"), col("row_med"),
            col("col_med"), (col("det") - col("col_med")).as("residual"))
          .orderBy("event_type", "dow")
      }),

    // CRAMÉR'S V — the EFFECT SIZE q_chi2_independence's per-cell
    // table doesn't summarize: V = √(χ²/(n·min(r−1,c−1))), the
    // scale-free association strength between event_type and ISO
    // weekday (χ² alone grows with n, so at 100 TB everything is
    // "significant"; V is what actually answers "does weekday matter").
    // χ² reuses the chi2 query's floored-milli contribution
    // convention, then SUMS the already-integer contributions — an
    // integer sum, aggregation-order-independent, so no double ever
    // rides a shuffle. The one irrational step is a single
    // div→div→sqrt→mul chain of exactly-rounded IEEE ops floored
    // once (the q_sequential_peeking discipline) — ln-free, unlike a
    // G-test, which is why V and not likelihood ratio. Plan: one
    // map-side-combined fact aggregate; marginals, total and counts
    // are dim-sized broadcasts; output is ONE row.
    // SAFE OPERAND ENVELOPE (the q_odds_risk_ratio discipline): the
    // integer chain's first overflow is obs·t (then d_milli²), so the
    // exact path requires total events t < ~3·10⁹ (t·max(obs) and
    // 1000·rtot·ctot ≤ 2⁶³; bench SFs sit ≥6 orders inside). Beyond
    // that DuckDB raises while Spark wraps silently — at larger fact
    // scales pre-scale the table first (divide every obs by a common
    // 10^s; χ² contributions scale by 10^s and V is invariant up to
    // the milli floor), do NOT run this form raw at 100 TB.
    QDef("q_cramers_v", Some("""
      WITH o AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
              CAST(count(*) AS BIGINT) AS obs
            FROM events GROUP BY 1, 2),
      r AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS rtot FROM o GROUP BY 1),
      c AS (SELECT dow, CAST(sum(obs) AS BIGINT) AS ctot FROM o GROUP BY 1),
      tt AS (SELECT CAST(sum(obs) AS BIGINT) AS t FROM o),
      j AS (SELECT (1000 * abs(o.obs * tt.t - r.rtot * c.ctot)) // tt.t AS d_milli,
              (1000 * r.rtot * c.ctot) // tt.t AS expected_milli
            FROM o JOIN r ON o.event_type = r.event_type
                   JOIN c ON o.dow = c.dow, tt),
      s AS (SELECT CAST(sum((d_milli * d_milli) // expected_milli) AS BIGINT)
              AS chi2_milli FROM j),
      mr AS (SELECT CAST(count(*) AS BIGINT) AS r_cnt FROM r),
      mc AS (SELECT CAST(count(*) AS BIGINT) AS c_cnt FROM c)
      SELECT s.chi2_milli, tt.t AS n_events,
             least(mr.r_cnt - 1, mc.c_cnt - 1) AS dof,
             CAST(floor(1000.0 * sqrt((s.chi2_milli / 1000.0) /
               (1.0 * tt.t * least(mr.r_cnt - 1, mc.c_cnt - 1))))
               AS BIGINT) AS v_milli
      FROM s, tt, mr, mc"""),
      (s, d) => {
        val iso = expr("cast((dayofweek(ts) + 5) % 7 + 1 as bigint)")
        val o = t(s, d, "events")
          .select(col("event_type"), iso.as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("obs"))
        val r = o.groupBy(col("event_type").as("r_et"))
          .agg(sum("obs").cast("long").as("rtot"))
        val c = o.groupBy(col("dow").as("c_dow"))
          .agg(sum("obs").cast("long").as("ctot"))
        val tt = o.agg(sum("obs").cast("long").as("t"))
        val chi2 = o.join(broadcast(r), col("event_type") === col("r_et"))
          .join(broadcast(c), col("dow") === col("c_dow"))
          .crossJoin(broadcast(tt))
          .select(
            expr("div(1000 * abs(obs * t - rtot * ctot), t)").as("d_milli"),
            expr("div(1000 * rtot * ctot, t)").as("expected_milli"))
          .agg(sum(expr("div(d_milli * d_milli, expected_milli)"))
            .cast("long").as("chi2_milli"))
        chi2.crossJoin(broadcast(tt))
          .crossJoin(broadcast(r.agg(count(lit(1)).as("r_cnt"))))
          .crossJoin(broadcast(c.agg(count(lit(1)).as("c_cnt"))))
          .select(col("chi2_milli"), col("t").as("n_events"),
            least(col("r_cnt") - 1, col("c_cnt") - 1).as("dof"),
            floor(lit(1000.0) * sqrt((col("chi2_milli") / lit(1000.0)) /
              (lit(1.0) * col("t") * least(col("r_cnt") - 1, col("c_cnt") - 1))))
              .cast("long").as("v_milli"))
      }),

    // MUTUAL INFORMATION between `lang` and `source` — the
    // information-theoretic dependence gauge that complements the
    // frequentist pair (q_chi2_independence tests, q_cramers_v
    // normalizes): MI in milli-nats plus both marginal entropies and
    // the min-entropy-normalized NMI, the number a curation review
    // quotes when asking "does knowing the source tell you the
    // language?" (NMI → 0: mix is language-balanced per source;
    // → 1000: sources are language silos and per-source sampling
    // skews the language mix). Float discipline: ln() terms follow
    // the q_doc_entropy containment (IEEE doubles from exact BIGINT
    // cell counts, one round-3 at the end); the MI sum has
    // |langs|·|sources| terms — domain-bounded, so accumulated
    // error sits orders below the milli-nat rounding grain. Scale
    // shape: ONE map-side-combined aggregate collapses the corpus to
    // the contingency table; marginals, entropies and the MI sum all
    // run on that ≤|langs|·|sources|-row table via broadcast joins —
    // 1-row output at any corpus size.
    QDef("q_mutual_information", Some("""
      WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_xy
                 FROM documents GROUP BY 1, 2),
      r AS (SELECT lang, CAST(sum(n_xy) AS BIGINT) AS n_x FROM c GROUP BY 1),
      cc AS (SELECT source, CAST(sum(n_xy) AS BIGINT) AS n_y FROM c GROUP BY 1),
      tt AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM c),
      mi AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, max(tt.n) AS n,
               sum((CAST(n_xy AS DOUBLE) / tt.n)
                   * ln((CAST(n_xy AS DOUBLE) * tt.n)
                        / (CAST(n_x AS DOUBLE) * n_y))) AS mi_nats
             FROM c JOIN r USING (lang) JOIN cc USING (source)
             CROSS JOIN tt),
      hx AS (SELECT -sum((CAST(n_x AS DOUBLE) / tt.n)
                         * ln(CAST(n_x AS DOUBLE) / tt.n)) AS h_lang
             FROM r CROSS JOIN tt),
      hy AS (SELECT -sum((CAST(n_y AS DOUBLE) / tt.n)
                         * ln(CAST(n_y AS DOUBLE) / tt.n)) AS h_source
             FROM cc CROSS JOIN tt)
      SELECT n_cells, n AS n_docs,
             (round(1000 * mi_nats, 3) + 0.0) AS mi_milli3,
             (round(1000 * h_lang, 3) + 0.0) AS h_lang_milli3,
             (round(1000 * h_source, 3) + 0.0) AS h_source_milli3,
             (round(1000 * mi_nats / least(h_lang, h_source), 3) + 0.0)
               AS nmi_milli3
      FROM mi, hx, hy"""),
      (s, d) => {
        val c = t(s, d, "documents")
          .groupBy("lang", "source").agg(count(lit(1)).as("n_xy"))
        val r = c.groupBy("lang").agg(sum("n_xy").cast("long").as("n_x"))
        val cc = c.groupBy("source").agg(sum("n_xy").cast("long").as("n_y"))
        val tt = c.agg(sum("n_xy").cast("long").as("n"))
        val mi = c.join(broadcast(r), "lang").join(broadcast(cc), "source")
          .crossJoin(broadcast(tt))
          .agg(count(lit(1)).as("n_cells"), max("n").as("n"),
            sum((col("n_xy").cast("double") / col("n"))
              * log((col("n_xy").cast("double") * col("n"))
                / (col("n_x").cast("double") * col("n_y")))).as("mi_nats"))
        val hx = r.crossJoin(broadcast(tt))
          .agg((-sum((col("n_x").cast("double") / col("n"))
            * log(col("n_x").cast("double") / col("n")))).as("h_lang"))
        val hy = cc.crossJoin(broadcast(tt))
          .agg((-sum((col("n_y").cast("double") / col("n"))
            * log(col("n_y").cast("double") / col("n")))).as("h_source"))
        mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
          .select(col("n_cells"), col("n").as("n_docs"),
            (round(lit(1000) * col("mi_nats"), 3) + 0.0).as("mi_milli3"),
            (round(lit(1000) * col("h_lang"), 3) + 0.0).as("h_lang_milli3"),
            (round(lit(1000) * col("h_source"), 3) + 0.0).as("h_source_milli3"),
            (round(lit(1000) * col("mi_nats") / least(col("h_lang"),
              col("h_source")), 3) + 0.0).as("nmi_milli3"))
      }),

    // PER-USER BEHAVIORAL DIVERSITY — Gini–Simpson index of each
    // user's event-type mix, 1 − Σp² in exact permille:
    // 1000·(n² − Σc²) div n². The Shannon version needs ln(), which
    // is NOT exactly-rounded IEEE and can floor differently across
    // engines (the q_bigram_pmi lesson) — Simpson is the
    // rational-arithmetic diversity index, so the oracle is exact at
    // any SF. Single-type users score 0, uniform k-type users
    // approach 1000·(k−1)/k. Two map-side-combined aggregates over
    // ONE user-keyed shuffle (the (user,type) grain collapses to
    // user grain without re-exchanging); per-user n is day-bounded
    // so n² never nears the BIGINT edge.
    QDef("q_user_simpson_diversity", Some("""
      WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
                 FROM events GROUP BY 1, 2),
      u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(c * c) AS BIGINT) AS ss
            FROM c GROUP BY 1)
      SELECT user_id, n_events, n_types,
             CAST((1000 * (n_events * n_events - ss)) // (n_events * n_events)
               AS BIGINT) AS simpson_permille
      FROM u ORDER BY user_id"""),
      (s, d) => {
        val c = t(s, d, "events")
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        c.groupBy("user_id")
          .agg(sum("c").cast("long").as("n_events"),
            count(lit(1)).as("n_types"),
            sum(col("c") * col("c")).cast("long").as("ss"))
          .select(col("user_id"), col("n_events"), col("n_types"),
            expr("div(1000 * (n_events * n_events - ss), n_events * n_events)")
              .as("simpson_permille"))
          .orderBy("user_id")
      }),

    // ROLLING 14-DAY CORRELATION between the click and purchase
    // daily series — does engagement still track conversion, day by
    // day? (q_corr_exact is the global answer; a drift in the
    // ROLLING value is the leading indicator funnels get re-audited
    // on.) Emitted sqrt-free as the three exact integer components
    // (n·Σxy−ΣxΣy, n·Σx²−(Σx)², n·Σy²−(Σy)²) — corr = cov/√(vx·vy)
    // is the consumer's one irrational step, kept off the oracle
    // surface (q_trend_slope's exact-rational discipline). The RANGE
    // frame over integer day numbers makes the window CALENDAR-true
    // under gaps. The day series is the time dimension — dim-sized
    // at any fact scale — so the unpartitioned window is a
    // single-task stage over thousands of rows, downstream of the
    // map-side-combined daily aggregate (the only fact-sized stage).
    // Components exact while daily counts < ~2e8 (196·C² in a long).
    QDef("q_moving_corr", Some("""
      WITH cd AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
          CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
          CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
        FROM events GROUP BY 1),
      nn AS (SELECT day, x, y, date_diff('day', DATE '1970-01-01', day) AS dnum FROM cd),
      w AS (SELECT day,
          CAST(count(*) OVER fr AS BIGINT) AS n,
          CAST(sum(x) OVER fr AS BIGINT) AS sx, CAST(sum(y) OVER fr AS BIGINT) AS sy,
          CAST(sum(x * y) OVER fr AS BIGINT) AS sxy,
          CAST(sum(x * x) OVER fr AS BIGINT) AS sxx,
          CAST(sum(y * y) OVER fr AS BIGINT) AS syy
        FROM nn WINDOW fr AS (ORDER BY dnum RANGE BETWEEN 13 PRECEDING AND CURRENT ROW))
      SELECT strftime(day, '%Y-%m-%d') AS day, n,
             n * sxy - sx * sy AS cov_num,
             n * sxx - sx * sx AS var_x_num,
             n * syy - sy * sy AS var_y_num
      FROM w ORDER BY day"""),
      (s, d) => {
        val cd = t(s, d, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .cast("long").as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .cast("long").as("y"))
          .withColumn("dnum",
            datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
        val fr = Window.orderBy("dnum").rangeBetween(-13, 0)
        cd
          .withColumn("n", count(lit(1)).over(fr).cast("long"))
          .withColumn("sx", sum("x").over(fr).cast("long"))
          .withColumn("sy", sum("y").over(fr).cast("long"))
          .withColumn("sxy", sum(col("x") * col("y")).over(fr).cast("long"))
          .withColumn("sxx", sum(col("x") * col("x")).over(fr).cast("long"))
          .withColumn("syy", sum(col("y") * col("y")).over(fr).cast("long"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("var_x_num"),
            (col("n") * col("syy") - col("sy") * col("sy")).as("var_y_num"))
          .orderBy("day")
      }),

    // FIRST-TOUCH ATTRIBUTION: each purchase credited to the user's
    // chronologically FIRST click, provided it precedes the purchase
    // — the acquisition-side complement of q_attribution_last_touch
    // (which channel STARTED the journey vs which channel CLOSED it;
    // marketing reads both). The first click per user is one
    // min(struct(ts, id)) aggregate — the arg-min trick that needs
    // no window and no self-join — then a user-keyed join onto the
    // purchase slice; purchases before any click attribute to NULL
    // via the left join + time guard. Two filtered slices off one
    // fact scan, one user shuffle.
    QDef("q_attribution_first_touch", Some(s"""
      WITH fc AS (SELECT user_id, first_ts, first_click_id FROM (
              SELECT user_id, ts AS first_ts, event_id AS first_click_id,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events WHERE event_type = 'click') WHERE rn = 1),
      p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
      SELECT p.event_id AS purchase_id,
             CASE WHEN fc.first_ts <= p.ts THEN fc.first_click_id END AS click_id,
             CASE WHEN fc.first_ts <= p.ts
                  THEN strftime(fc.first_ts, '%Y-%m-%d %H:%M:%S') END AS click_ts
      FROM p LEFT JOIN fc ON p.user_id = fc.user_id
      ORDER BY purchase_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val fc = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("fu"))
          .agg(min(struct(col("ts"), col("event_id"))).as("first"))
          .select(col("fu"), col("first.ts").as("first_ts"),
            col("first.event_id").as("first_click_id"))
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
          .join(fc, col("user_id") === col("fu"), "left")
          .select(col("purchase_id"),
            when(col("first_ts") <= col("ts"), col("first_click_id")).as("click_id"),
            when(col("first_ts") <= col("ts"),
              date_format(col("first_ts"), "yyyy-MM-dd HH:mm:ss")).as("click_ts"))
          .orderBy("purchase_id")
      }),

    // SESSION-DEPTH DISTRIBUTION: 30-min-gap sessions bucketed by
    // event count (1 / 2 / 3-5 / 6-10 / 11+) with permille shares —
    // the engagement histogram behind q_bounce_rate's headline (the
    // bounce bucket is depth=1; this shows where the REST of the
    // mass sits). Same parity-pinned sessionization; the bucket
    // aggregate and 1-row total are dim-sized.
    QDef("q_session_depth_dist", Some(s"""
      WITH m AS (SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid FROM m),
      g AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1, 2),
      b AS (SELECT CASE WHEN n = 1 THEN 'a_1' WHEN n = 2 THEN 'b_2'
                        WHEN n <= 5 THEN 'c_3_5' WHEN n <= 10 THEN 'd_6_10'
                        ELSE 'e_11_plus' END AS depth_bucket,
                   n FROM g),
      c AS (SELECT depth_bucket, CAST(count(*) AS BIGINT) AS sessions,
                   CAST(sum(n) AS BIGINT) AS events FROM b GROUP BY 1),
      tt AS (SELECT CAST(sum(sessions) AS BIGINT) AS total FROM c)
      SELECT depth_bucket, sessions, events,
             (1000 * sessions) // tt.total AS share_permille
      FROM c, tt ORDER BY depth_bucket"""),
      (s, d) => {
        val g = t(s, d, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        val b = g.select(
          when(col("n") === 1, "a_1").when(col("n") === 2, "b_2")
            .when(col("n") <= 5, "c_3_5").when(col("n") <= 10, "d_6_10")
            .otherwise("e_11_plus").as("depth_bucket"),
          col("n"))
        val c = b.groupBy("depth_bucket")
          .agg(count(lit(1)).as("sessions"), sum("n").cast("long").as("events"))
        val tot = c.agg(sum("sessions").cast("long").as("total"))
        c.crossJoin(broadcast(tot))
          .select(col("depth_bucket"), col("sessions"), col("events"),
            expr("div(1000 * sessions, total)").as("share_permille"))
          .orderBy("depth_bucket")
      }),

    // ML FEATURE FRAME: per active (user, day) — declared-pivot type
    // counts, calendar-true trailing-7d activity, and purchase
    // recency (days since last purchase, same-day inclusive, NULL if
    // never) — the feature matrix q_label_future_window's label
    // joins onto (features may see the current day; only the LABEL
    // carries the leakage rule). One fact pass → per-(user, day)
    // aggregate, one re-key to user for the windows — and BOTH
    // windows share a single Sort+Window chain (same partitioning,
    // same ordering: Spark plans them back-to-back with no exchange
    // between). RANGE frames over integer day numbers stay
    // calendar-true under gaps.
    QDef("q_feature_frame", Some("""
      WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
          CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
          CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
          CAST(count(*) AS BIGINT) AS n_total
        FROM events GROUP BY 1, 2),
      n AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS dnum FROM daily)
      SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
             n_click, n_view, n_purchase,
             CAST(sum(n_total) OVER (PARTITION BY user_id ORDER BY dnum
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d,
             dnum - max(CASE WHEN n_purchase > 0 THEN dnum END)
               OVER (PARTITION BY user_id ORDER BY dnum
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS days_since_purchase
      FROM n ORDER BY user_id, day"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .cast("long").as("n_click"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .cast("long").as("n_view"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .cast("long").as("n_purchase"),
            count(lit(1)).as("n_total"))
          .withColumn("dnum",
            datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
        val trail7 = Window.partitionBy("user_id").orderBy("dnum").rangeBetween(-6, 0)
        val sofar = Window.partitionBy("user_id").orderBy("dnum")
          .rangeBetween(Window.unboundedPreceding, 0)
        daily
          .withColumn("n_7d", sum("n_total").over(trail7).cast("long"))
          .withColumn("days_since_purchase",
            col("dnum") - max(when(col("n_purchase") > 0, col("dnum"))).over(sofar))
          .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n_click"), col("n_view"), col("n_purchase"), col("n_7d"),
            col("days_since_purchase"))
          .orderBy("user_id", "day")
      }),

    // INTERVAL-UNION COVERAGE: each event claims a half-open 300 s
    // span [ts, ts+300s); per user, merge overlapping spans into
    // islands and report island count, covered seconds, and longest
    // island — the "when was this user's session lamp actually on"
    // union that q_concurrency_sweep's sweep-line counts and
    // q_runs_scd2's gaps-and-islands both circle around, here in its
    // canonical interval-merge form (Allen-interval union). Plan: ONE
    // user_id exchange serves both window passes (new-island flag via
    // running max of prior span ends, island id via running flag sum
    // — same Sort order, same partitioning) and the island aggregate;
    // all arithmetic in integer epoch µs (unix_micros), seconds only
    // at render via integer div. At 100 TB state is one row per
    // event in flight per user partition — no self-join, no explode.
    QDef("q_interval_coverage", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
                        epoch_us(ts) + 300000000 AS e FROM events),
      x AS (SELECT user_id, s, e, event_id,
              CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                     OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 1 ELSE 0 END AS flag
            FROM e),
      y AS (SELECT user_id, s, e,
              sum(flag) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM x),
      isl AS (SELECT user_id, island, min(s) AS st, max(e) AS en FROM y GROUP BY 1, 2)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
             CAST(sum((en - st) // 1000000) AS BIGINT) AS covered_sec,
             CAST(max((en - st) // 1000000) AS BIGINT) AS max_island_sec
      FROM isl GROUP BY 1 ORDER BY user_id"""),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("s", "event_id")
        val prior = w.rowsBetween(Window.unboundedPreceding, -1)
        val run = w.rowsBetween(Window.unboundedPreceding, 0)
        t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("s"),
            (unix_micros(col("ts")) + lit(300000000L)).as("e"))
          .withColumn("pmax", max("e").over(prior))
          .withColumn("flag",
            when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
          .withColumn("island", sum("flag").over(run))
          .groupBy("user_id", "island")
          .agg(min("s").as("st"), max("e").as("en"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            sum(expr("div(en - st, 1000000)")).cast("long").as("covered_sec"),
            max(expr("div(en - st, 1000000)")).cast("long").as("max_island_sec"))
          .orderBy("user_id")
      }),

    // EQUI-DEPTH HISTOGRAM: 8 equal-population buckets over
    // per-customer lifetime spend — the boundary statistics an
    // optimizer (or a data-skipping layout) collects before choosing
    // ranges. Exact by RANK SELECTION, not interpolation: bucket of
    // rank rn is (rn−1)·8 div n + 1 with a (cents, custkey) total
    // order, so both engines place every tie identically. The global
    // row_number runs on the AGGREGATED |customers|-sized relation
    // (the fact pays one shuffle into the rollup), the same
    // discipline as q_ntile_quartiles/q_rfm_scores — never a global
    // sort of raw orders; at 100 TB swap in approx_percentile
    // boundaries, same output contract.
    QDef("q_histogram_equidepth", Some("""
      WITH cs AS (SELECT o_custkey,
                    sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
                  FROM orders GROUP BY 1),
      n AS (SELECT count(*) AS n FROM cs),
      rk AS (SELECT cs.cents, n.n,
               row_number() OVER (ORDER BY cs.cents, cs.o_custkey) AS rn
             FROM cs, n)
      SELECT CAST((rn - 1) * 8 // n + 1 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(min(cents) AS BIGINT) AS lo_cents,
             CAST(max(cents) AS BIGINT) AS hi_cents
      FROM rk GROUP BY 1 ORDER BY bucket"""),
      (s, d) => {
        val cs = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long"))
            .cast("long").as("cents"))
        cs.crossJoin(broadcast(cs.agg(count(lit(1)).as("n"))))
          .withColumn("rn",
            row_number().over(Window.orderBy(col("cents"), col("o_custkey"))))
          .select((expr("div((rn - 1) * 8, n)") + lit(1L)).as("bucket"), col("cents"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            min("cents").cast("long").as("lo_cents"),
            max("cents").cast("long").as("hi_cents"))
          .orderBy("bucket")
      }),

    // LINEAR MULTI-TOUCH ATTRIBUTION: each purchase splits 1000
    // milli-credits EQUALLY across the user's clicks in the trailing
    // 7 days (the equal-weight model between q_attribution_first_touch
    // and q_attribution_last_touch — the three standard positions);
    // per user: credited clicks + total credit mass. Plan: the
    // purchase×click pair stream is a user-keyed equi-join with the
    // time window as a residual predicate — both sides hash once on
    // user_id, and fan-out is bounded by per-user activity (5.3k
    // pairs from 60k events here; at 100 TB a hot user is the skew
    // risk and Ops.saltedJoin is the drop-in). The per-purchase
    // click count re-aggregates the pair stream on the SAME user
    // partitioning; credit = 1000 div n stays born-integer (floor
    // division both engines).
    QDef("q_attribution_linear", Some("""
      WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS cts
            FROM events WHERE event_type = 'click'),
      pairs AS (SELECT p.pid, p.user_id, c.cid
                FROM p JOIN c ON p.user_id = c.user_id
                 AND c.cts <= p.pts AND c.cts > p.pts - 604800000000),
      nn AS (SELECT pid, count(*) AS n FROM pairs GROUP BY 1),
      credit AS (SELECT pr.user_id, pr.cid, 1000 // nn.n AS milli
                 FROM pairs pr JOIN nn ON pr.pid = nn.pid)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_credits,
             CAST(sum(milli) AS BIGINT) AS credit_milli
      FROM credit GROUP BY 1 ORDER BY user_id"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            unix_micros(col("ts")).as("pts"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("cid"), col("user_id").as("cuid"),
            unix_micros(col("ts")).as("cts"))
        val pairs = p.join(c,
          col("user_id") === col("cuid") &&
            col("cts") <= col("pts") && col("cts") > col("pts") - lit(604800000000L))
          .select("pid", "user_id", "cid")
        val nn = pairs.groupBy("pid").agg(count(lit(1)).as("n"))
        pairs.join(nn, "pid")
          .select(col("user_id"), col("cid"), expr("div(1000, n)").as("milli"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_credits"),
            sum("milli").cast("long").as("credit_milli"))
          .orderBy("user_id")
      }),

    // DAILY OHLC DOWNSAMPLE: per (event_type, day) candlestick —
    // open/high/low/close in exact cents + volume, the canonical
    // time-series compaction (a metrics lake keeps candles, not raw
    // ticks). Open/close are ORDER STATISTICS, not arbitrary
    // first()/last(): row_number over (ts, event_id) from both ends
    // picks them deterministically on any partitioning, and both
    // rankers plus the aggregate ride ONE (type, day) exchange.
    QDef("q_ohlc_daily", Some("""
      WITH e AS (SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                        epoch_us(ts) AS s, event_id,
                        CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
                 FROM events),
      w AS (SELECT *,
              row_number() OVER (PARTITION BY event_type, day
                                 ORDER BY s, event_id) AS rf,
              row_number() OVER (PARTITION BY event_type, day
                                 ORDER BY s DESC, event_id DESC) AS rl
            FROM e)
      SELECT event_type, day,
             max(CASE WHEN rf = 1 THEN cents END) AS open_cents,
             CAST(max(cents) AS BIGINT) AS high_cents,
             CAST(min(cents) AS BIGINT) AS low_cents,
             max(CASE WHEN rl = 1 THEN cents END) AS close_cents,
             CAST(count(*) AS BIGINT) AS volume
      FROM w GROUP BY 1, 2 ORDER BY event_type, day"""),
      (s, d) => {
        val e = t(s, d, "events").select(
          col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          unix_micros(col("ts")).as("s"), col("event_id"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        val p = Window.partitionBy("event_type", "day")
        e.withColumn("rf", row_number().over(p.orderBy(col("s"), col("event_id"))))
          .withColumn("rl",
            row_number().over(p.orderBy(col("s").desc, col("event_id").desc)))
          .groupBy("event_type", "day")
          .agg(max(when(col("rf") === 1, col("cents"))).as("open_cents"),
            max("cents").cast("long").as("high_cents"),
            min("cents").cast("long").as("low_cents"),
            max(when(col("rl") === 1, col("cents"))).as("close_cents"),
            count(lit(1)).as("volume"))
          .orderBy("event_type", "day")
      }),

    // LINEAR GAP-FILL: per-user daily signup-value series resampled
    // to a dense day grid, silent days LINEARLY interpolated between
    // the neighboring active days (the interpolation twin of
    // q_resample_locf's hold-last). Born-integer throughout: the
    // interpolant is the weighted average (pv·(nd−d) + nv·(d−pd))
    // div (nd−pd) in milli-cents — both weights and both values are
    // non-negative, so floor division ≡ truncation and no engine
    // sign convention can bite (the q_robust_scaler lesson). Plan:
    // grid explode off the per-user [lo,hi] span, LEFT JOIN back
    // co-keyed on (user, day), then prev/next via last/first
    // IGNORE NULLS over two frames of the SAME user-keyed Sort.
    QDef("q_gap_fill_linear", Some("""
      WITH daily AS (
        SELECT user_id, epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS cents
        FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
      grid AS (
        SELECT d.user_id, g.dnum
        FROM (SELECT user_id, min(dnum) AS lo, max(dnum) AS hi
              FROM daily GROUP BY 1) d,
             UNNEST(range(d.lo, d.hi + 1)) AS g(dnum)),
      j AS (SELECT g.user_id, g.dnum, daily.cents,
              CASE WHEN daily.cents IS NOT NULL THEN g.dnum END AS aday
            FROM grid g LEFT JOIN daily
              ON g.user_id = daily.user_id AND g.dnum = daily.dnum),
      f AS (SELECT user_id, dnum, cents,
              last_value(cents IGNORE NULLS) OVER w AS pv,
              last_value(aday IGNORE NULLS) OVER w AS pd,
              first_value(cents IGNORE NULLS) OVER w2 AS nv,
              first_value(aday IGNORE NULLS) OVER w2 AS nd
            FROM j
            WINDOW w AS (PARTITION BY user_id ORDER BY dnum
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w2 AS (PARTITION BY user_id ORDER BY dnum
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, CAST(dnum AS BIGINT) AS dnum,
             CAST(CASE WHEN cents IS NOT NULL THEN 1000 * cents
                  ELSE (1000 * pv * (nd - dnum) + 1000 * nv * (dnum - pd))
                       // (nd - pd) END AS BIGINT) AS milli,
             CASE WHEN cents IS NOT NULL THEN 0 ELSE 1 END AS interpolated
      FROM f ORDER BY user_id, dnum"""),
      (s, d) => {
        val daily = t(s, d, "events").filter(col("event_type") === "signup")
          .groupBy(col("user_id"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)").as("dnum"))
          .agg(sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
            .as("cents"))
        val grid = daily.groupBy(col("user_id").as("gu"))
          .agg(min("dnum").as("lo"), max("dnum").as("hi"))
          .select(col("gu"), explode(expr("sequence(lo, hi)")).as("dnum"))
        val j = grid.join(daily,
          col("gu") === col("user_id") && grid("dnum") === daily("dnum"), "left")
          .select(col("gu").as("user_id"), grid("dnum").as("dnum"), col("cents"),
            when(col("cents").isNotNull, grid("dnum")).as("aday"))
        val w = Window.partitionBy("user_id").orderBy("dnum")
          .rowsBetween(Window.unboundedPreceding, 0)
        val w2 = Window.partitionBy("user_id").orderBy("dnum")
          .rowsBetween(0, Window.unboundedFollowing)
        j.withColumn("pv", last("cents", ignoreNulls = true).over(w))
          .withColumn("pd", last("aday", ignoreNulls = true).over(w))
          .withColumn("nv", first("cents", ignoreNulls = true).over(w2))
          .withColumn("nd", first("aday", ignoreNulls = true).over(w2))
          .select(col("user_id"), col("dnum"),
            when(col("cents").isNotNull, lit(1000L) * col("cents"))
              .otherwise(expr(
                "div(1000 * pv * (nd - dnum) + 1000 * nv * (dnum - pd), nd - pd)"))
              .as("milli"),
            when(col("cents").isNotNull, 0L).otherwise(1L).as("interpolated"))
          .orderBy("user_id", "dnum")
      }),

    // ACTIVITY BITMAP: each user's presence over the corpus time
    // range packed into ONE 64-bit bitmap (the roaring-bitmap-lite
    // index an engagement warehouse keeps per entity) — day mapped to
    // bucket ((dnum−lo)·64) div span, membership OR-ed with bit_or,
    // activity read back with bit_count. The whole index is one
    // map-side-combined aggregate producing 8 bytes per user — the
    // set-of-days never materializes; at 100 TB this is the shape
    // that replaces count(DISTINCT day) retention scans with bitwise
    // AND/OR across snapshots.
    QDef("q_activity_bitmap", Some("""
      WITH e AS (SELECT user_id,
                        epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum
                 FROM events),
      b AS (SELECT min(dnum) AS lo, max(dnum) - min(dnum) + 1 AS span FROM e),
      m AS (SELECT user_id,
                   CAST(((dnum - b.lo) * 64) // b.span AS INT) AS bkt
            FROM e, b)
      SELECT user_id,
             CAST(bit_or(CAST(1 AS BIGINT) << bkt) AS BIGINT) AS bitmap,
             CAST(bit_count(bit_or(CAST(1 AS BIGINT) << bkt)) AS BIGINT)
               AS n_active,
             CAST(min(bkt) AS BIGINT) AS first_bkt,
             CAST(max(bkt) AS BIGINT) AS last_bkt
      FROM m GROUP BY 1 ORDER BY user_id"""),
      (s, d) => {
        val e = t(s, d, "events").select(col("user_id"),
          expr("div(unix_micros(date_trunc('day', ts)), 86400000000)").as("dnum"))
        val b = e.agg(min("dnum").as("lo"),
          (max("dnum") - min("dnum") + lit(1L)).as("span"))
        e.crossJoin(broadcast(b))
          .select(col("user_id"),
            expr("cast(div((dnum - lo) * 64, span) as int)").as("bkt"))
          .groupBy("user_id")
          .agg(bit_or(expr("shiftleft(cast(1 as bigint), bkt)")).as("bitmap"),
            min("bkt").cast("long").as("first_bkt"),
            max("bkt").cast("long").as("last_bkt"))
          .select(col("user_id"), col("bitmap"),
            bit_count(col("bitmap")).cast("long").as("n_active"),
            col("first_bkt"), col("last_bkt"))
          .orderBy("user_id")
      }),

    // HYSTERESIS ALERTING: daily error share in permille driven
    // through a Schmitt-trigger state machine — raise above 210‰,
    // clear below 190‰, HOLD in the dead band (the monitoring
    // semantics that kills flapping pagers; a single threshold flips
    // 6 extra times on this data). The hold is declarative, not a
    // loop: in-band days force NULL and the alert is
    // last(forced, ignoreNulls) over the day order, seeded 0 — the
    // q_resample_locf fill idiom applied to control state. The
    // unpartitioned window walks the DIM-SIZED daily aggregate
    // (|days| rows), never events.
    QDef("q_alert_hysteresis", Some("""
      WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST((1000 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END))
                     // count(*) AS BIGINT) AS err_pm
                 FROM events GROUP BY 1),
      s AS (SELECT day, err_pm,
              CASE WHEN err_pm > 210 THEN 1 WHEN err_pm < 190 THEN 0 END AS forced
            FROM d)
      SELECT day, err_pm,
             coalesce(last_value(forced IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS alert
      FROM s ORDER BY day"""),
      (s, d) => {
        val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        t(s, d, "events")
          .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne"))
          .select(col("day"), expr("div(1000 * ne, n)").as("err_pm"))
          .withColumn("forced",
            when(col("err_pm") > 210, 1L).when(col("err_pm") < 190, 0L))
          .select(col("day"), col("err_pm"),
            coalesce(last("forced", ignoreNulls = true).over(w), lit(0L))
              .as("alert"))
          .orderBy("day")
      }),

    // SEASONAL DECOMPOSITION (STL-lite): daily event counts per type
    // split into trend + weekday seasonal + residual, all exact
    // milli integers. Trend = centered 7-day mean (NULL at the
    // edges, where the window isn't full — no silent short-window
    // bias); seasonal = per-(type, weekday) mean of the detrended
    // series (sign-aware truncating div, the q_kmeans_recompute
    // convention); residual = detrended − seasonal, and Σresidual ≈ 0
    // by construction. Everything after the one fact aggregate is
    // dim-sized (|types|×|days|); the weekday uses the engine-neutral
    // (dnum+3) mod 7 formula, not dayofweek.
    QDef("q_seasonal_decompose", Some("""
      WITH d AS (SELECT event_type, epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
                        count(*) AS c
                 FROM events GROUP BY 1, 2),
      tr AS (SELECT event_type, dnum, c,
               CAST(CASE WHEN count(*) OVER w7 = 7
                    THEN (1000 * sum(c) OVER w7) // 7 END AS BIGINT) AS trend_milli
             FROM d WINDOW w7 AS (PARTITION BY event_type ORDER BY dnum
                                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      de AS (SELECT event_type AS et, dnum, c, trend_milli,
                    1000 * c - trend_milli AS det FROM tr),
      se AS (SELECT et AS set2, (dnum + 3) % 7 + 1 AS dow,
               CAST(CASE WHEN sum(det) >= 0 THEN sum(det) // count(det)
                    ELSE -((-sum(det)) // count(det)) END AS BIGINT) AS seasonal_milli
             FROM de WHERE det IS NOT NULL GROUP BY 1, 2)
      SELECT et AS event_type, CAST(dnum AS BIGINT) AS dnum,
             CAST(c AS BIGINT) AS n_events, trend_milli, seasonal_milli,
             det - seasonal_milli AS resid_milli
      FROM de JOIN se ON et = set2 AND (dnum + 3) % 7 + 1 = dow
      ORDER BY event_type, dnum"""),
      (s, d) => {
        val w7 = Window.partitionBy("event_type").orderBy("dnum").rowsBetween(-3, 3)
        val de = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)").as("dnum"))
          .agg(count(lit(1)).as("c"))
          .withColumn("trend_milli",
            when(count(lit(1)).over(w7) === 7,
              expr("div(1000 * sum(c) over (partition by event_type order by dnum " +
                "rows between 3 preceding and 3 following), 7)")))
          .withColumn("det", lit(1000L) * col("c") - col("trend_milli"))
        val se = de.filter(col("det").isNotNull)
          .groupBy(col("event_type").as("set2"),
            (expr("(dnum + 3) % 7") + lit(1L)).as("dow"))
          .agg(expr("div(sum(det), count(det))").as("seasonal_milli"))
        de.join(broadcast(se),
          col("event_type") === col("set2") &&
            (expr("(dnum + 3) % 7") + lit(1L)) === col("dow"))
          .select(col("event_type"), col("dnum"), col("c").as("n_events"),
            col("trend_milli"), col("seasonal_milli"),
            (col("det") - col("seasonal_milli")).as("resid_milli"))
          .orderBy("event_type", "dnum")
      }),

    // SEASONAL STRENGTH — the one-row-per-type readout on top of
    // q_seasonal_decompose's cell table: Fs = 1 − Var(resid)/Var(det)
    // (Hyndman's strength-of-seasonality), answering "is the weekday
    // pattern real enough to model?" before anyone fits
    // q_mase_seasonal_naive. Variances ride as EXACT integer
    // numerators (n·Σx² − (Σx)², the q_moving_corr discipline) over
    // the same denominator n², which CANCELS in the ratio — so
    // strength is a pure BIGINT division, clamped at 0 BEFORE the
    // division so the floor only ever sees non-negative operands (a
    // seasonal fit can increase variance; sign never reaches //).
    // Everything after the one fact aggregate is |types|×|days|.
    QDef("q_seasonal_strength", Some("""
      WITH d AS (SELECT event_type, epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
                        count(*) AS c
                 FROM events GROUP BY 1, 2),
      tr AS (SELECT event_type, dnum, c,
               CAST(CASE WHEN count(*) OVER w7 = 7
                    THEN (1000 * sum(c) OVER w7) // 7 END AS BIGINT) AS trend_milli
             FROM d WINDOW w7 AS (PARTITION BY event_type ORDER BY dnum
                                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      de AS (SELECT event_type AS et, dnum, c, trend_milli,
                    1000 * c - trend_milli AS det FROM tr),
      se AS (SELECT et AS set2, (dnum + 3) % 7 + 1 AS dow,
               CAST(CASE WHEN sum(det) >= 0 THEN sum(det) // count(det)
                    ELSE -((-sum(det)) // count(det)) END AS BIGINT) AS seasonal_milli
             FROM de WHERE det IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT et, det, det - seasonal_milli AS resid
            FROM de JOIN se ON et = set2 AND (dnum + 3) % 7 + 1 = dow
            WHERE det IS NOT NULL),
      v AS (SELECT et, CAST(count(*) AS BIGINT) AS n_days,
              CAST(count(*) * sum(det * det) - sum(det) * sum(det) AS BIGINT)
                AS var_det_num,
              CAST(count(*) * sum(resid * resid) - sum(resid) * sum(resid)
                AS BIGINT) AS var_resid_num
            FROM r GROUP BY 1)
      SELECT et AS event_type, n_days, var_det_num, var_resid_num,
             CASE WHEN var_det_num <= 0 OR var_resid_num >= var_det_num THEN 0
                  ELSE CAST((1000 * (var_det_num - var_resid_num)) // var_det_num
                    AS BIGINT) END AS strength_milli
      FROM v ORDER BY event_type"""),
      (s, d) => {
        val w7 = Window.partitionBy("event_type").orderBy("dnum").rowsBetween(-3, 3)
        val de = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)").as("dnum"))
          .agg(count(lit(1)).as("c"))
          .withColumn("trend_milli",
            when(count(lit(1)).over(w7) === 7,
              expr("div(1000 * sum(c) over (partition by event_type order by dnum " +
                "rows between 3 preceding and 3 following), 7)")))
          .withColumn("det", lit(1000L) * col("c") - col("trend_milli"))
        val se = de.filter(col("det").isNotNull)
          .groupBy(col("event_type").as("set2"),
            (expr("(dnum + 3) % 7") + lit(1L)).as("dow"))
          .agg(expr("div(sum(det), count(det))").as("seasonal_milli"))
        de.filter(col("det").isNotNull)
          .join(broadcast(se),
            col("event_type") === col("set2") &&
              (expr("(dnum + 3) % 7") + lit(1L)) === col("dow"))
          .select(col("event_type"), col("det"),
            (col("det") - col("seasonal_milli")).as("resid"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            (count(lit(1)) * sum(col("det") * col("det")) -
              sum("det") * sum("det")).cast("long").as("var_det_num"),
            (count(lit(1)) * sum(col("resid") * col("resid")) -
              sum("resid") * sum("resid")).cast("long").as("var_resid_num"))
          .select(col("event_type"), col("n_days"), col("var_det_num"),
            col("var_resid_num"),
            when(col("var_det_num") <= 0 ||
                col("var_resid_num") >= col("var_det_num"), 0L)
              .otherwise(expr(
                "div(1000 * (var_det_num - var_resid_num), var_det_num)"))
              .as("strength_milli"))
          .orderBy("event_type")
      }),

    // GDPR ERASURE PLANNER (right-to-be-forgotten): given a deletion
    // request set (user_id ≡ 0 mod 97 as the deterministic stand-in
    // for the request table), the per-day-partition rewrite plan a
    // lakehouse needs BEFORE touching files: rows to erase, distinct
    // requesters present, the partition's total mass, a needs_rewrite
    // flag and the erase fraction in exact permille. Partition-grain
    // output pairs directly with PersistTableDual's partition-scoped
    // rewrite (only flagged days are rewritten; untouched days keep
    // their files — at 100 TB the difference between a surgical
    // rewrite and re-writing the lake). ONE map-side-combined
    // aggregate over (day, user_id); no joins.
    QDef("q_erasure_plan", Some("""
      WITH e AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                        user_id FROM events),
      p AS (SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_erase,
              CAST(count(DISTINCT CASE WHEN user_id % 97 = 0 THEN user_id END)
                AS BIGINT) AS n_requesters
            FROM e GROUP BY 1)
      SELECT day, n_rows, n_erase, n_requesters,
             CASE WHEN n_erase > 0 THEN 1 ELSE 0 END AS needs_rewrite,
             CAST((1000 * n_erase) // n_rows AS BIGINT) AS erase_permille
      FROM p ORDER BY day"""),
      (s, d) => {
        t(s, d, "events")
          .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            col("user_id"))
          .groupBy("day")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("user_id") % 97 === 0, 1L).otherwise(0L))
              .cast("long").as("n_erase"),
            countDistinct(when(col("user_id") % 97 === 0, col("user_id")))
              .as("n_requesters"))
          .select(col("day"), col("n_rows"), col("n_erase"), col("n_requesters"),
            when(col("n_erase") > 0, 1L).otherwise(0L).as("needs_rewrite"),
            expr("div(1000 * n_erase, n_rows)").as("erase_permille"))
          .orderBy("day")
      }),

    // VELOCITY CAP (rate-limit / fraud screen): each user's PEAK
    // event count inside any trailing 1-hour window, flagged at ≥3 —
    // the sliding-rate primitive behind "N requests per hour"
    // enforcement, computed exactly (a tumbling approximation
    // undercounts straddling bursts; the RANGE frame doesn't). One
    // user-keyed Sort serves the frame count, the per-user max is
    // the following aggregate on the same partitioning; frame bound
    // in integer µs (3599999999 ≡ strictly-within-one-hour with
    // CURRENT ROW inclusive).
    QDef("q_velocity_cap", Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS s FROM events),
      w AS (SELECT user_id,
              count(*) OVER (PARTITION BY user_id ORDER BY s
                             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
                AS cnt
            FROM e)
      SELECT user_id, CAST(max(cnt) AS BIGINT) AS peak_per_hour,
             CASE WHEN max(cnt) >= 3 THEN 1 ELSE 0 END AS velocity_flag
      FROM w GROUP BY 1 ORDER BY user_id"""),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("s")
          .rangeBetween(-3599999999L, 0)
        t(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("s"))
          .withColumn("cnt", count(lit(1)).over(w))
          .groupBy("user_id")
          .agg(max("cnt").cast("long").as("peak_per_hour"))
          .select(col("user_id"), col("peak_per_hour"),
            when(col("peak_per_hour") >= 3, 1L).otherwise(0L).as("velocity_flag"))
          .orderBy("user_id")
      }),

    // WEIGHTED MEDIAN: the smallest price whose cumulative QUANTITY
    // mass reaches half the flag's total — the volume-weighted
    // central price a plain median (one row, one vote) misstates.
    // Exact by DISTRIBUTED RANK SELECTION in two fully-parallel
    // passes. Why not one cumulative window: PARTITION BY f has 3
    // values — fed the raw fact it is a hard ≤3-task ceiling (the
    // r16 sf10 sweep's 2nd-slowest grower, 60.9 s) — and on this
    // lake a (f, cents) support table barely helps either: the cents
    // domain is 0.99×/0.91×/0.44× the fact at sf0.1/1/10 (measured
    // r17), so the q_mann_whitney domain-support trick buys no real
    // collapse. Instead: pass 1 folds quantity mass into fixed
    // 4096-cent price BANDS (map-side-combined, ≤3·|domain|/4096 ≈
    // 8k rows at any SF) and a band-cumulative window finds each
    // flag's half-mass crossing band plus the mass BEFORE it; pass 2
    // re-scans only that band (broadcast 3-row filter, ~1/2500
    // selectivity — the shuffle AFTER it is band-bounded) and the
    // exact within-band cumulative picks min(cents) past the
    // crossing. Output provably equals the oracle's one-shot
    // cumulative statement: bands below the crossing satisfy
    // 2·cum < tw for every row, the crossing band's last row
    // satisfies ≥, so the answer is inside it, where pass 2's
    // prior+within-band cum IS the global cum. Tie-independence of
    // the grouped restatement (oracle side): cumulative sums only
    // vary WITHIN a group of identical cents, and whichever tied row
    // crosses, min(cents) over the qualifying set is that group's
    // value. Both windows run over band-bounded aggregates, never
    // the fact; the fact is scanned twice, 3 pruned columns each.
    QDef("q_weighted_median", Some("""
      WITH x AS (SELECT l_returnflag AS f,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
                   CAST(l_quantity AS BIGINT) AS w FROM lineitem),
      g AS (SELECT f, cents, sum(w) AS gw FROM x GROUP BY 1, 2),
      c AS (SELECT f, cents,
              sum(gw) OVER (PARTITION BY f ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
              sum(gw) OVER (PARTITION BY f) AS tw
            FROM g)
      SELECT f AS l_returnflag, CAST(min(cents) AS BIGINT) AS wmedian_cents,
             CAST(max(tw) AS BIGINT) AS total_weight
      FROM c WHERE 2 * cw >= tw GROUP BY 1 ORDER BY l_returnflag"""),
      (s, d) => {
        def fact = t(s, d, "lineitem")
          .select(col("l_returnflag").as("f"),
            floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
              .as("cents"),
            col("l_quantity").cast("long").as("w"))
        // pass 1: band mass + crossing-band locator (all band-sized)
        val bs = fact.groupBy(col("f"), expr("div(cents, 4096)").as("bkt"))
          .agg(sum("w").as("bw"))
        val wc = Window.partitionBy("f").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wt = Window.partitionBy("f")
        val cross = bs
          .withColumn("cbw", sum("bw").over(wc))
          .withColumn("tw", sum("bw").over(wt))
          .filter(lit(2L) * col("cbw") >= col("tw"))
          .withColumn("rn",
            row_number().over(Window.partitionBy("f").orderBy("bkt")))
          .filter(col("rn") === 1)
          .select(col("f").as("cf"), col("bkt").as("cbkt"),
            (col("cbw") - col("bw")).as("prior"), col("tw"))
        // pass 2: exact crossing inside the one band per flag
        val w2 = Window.partitionBy("f").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        fact.join(broadcast(cross),
            col("f") === col("cf") && expr("div(cents, 4096)") === col("cbkt"))
          .groupBy("f", "cents", "prior", "tw")
          .agg(sum("w").as("gw"))
          .withColumn("cw", col("prior") + sum("gw").over(w2))
          .filter(lit(2L) * col("cw") >= col("tw"))
          .groupBy(col("f").as("l_returnflag"))
          .agg(min("cents").cast("long").as("wmedian_cents"),
            max("tw").cast("long").as("total_weight"))
          .orderBy("l_returnflag")
      }),

    // ENGAGEMENT SURVIVAL CURVE (Kaplan-Meier-lite, no censoring):
    // for each day-offset k, how many users' activity span (last
    // active day − first active day) reaches k, in exact permille of
    // the cohort — the retention duration curve behind "median
    // engaged lifetime". The oracle states it as the naive k×users
    // band join; the Spark plan computes the IDENTICAL quantity the
    // scale-safe way: span histogram (|users| → |spans| rows) +
    // REVERSE running sum over the dim-sized offset grid — at 100 TB
    // the curve costs one fact aggregate and a |days|-row window,
    // never a non-equi join against users.
    QDef("q_survival_curve", Some("""
      WITH u AS (SELECT user_id,
                   max(epoch_us(date_trunc('day', ts)) // 86400000000)
                   - min(epoch_us(date_trunc('day', ts)) // 86400000000) AS span
                 FROM events GROUP BY 1),
      n AS (SELECT count(*) AS nu FROM u),
      k AS (SELECT unnest(range(0, (SELECT max(span) FROM u) + 1)) AS k),
      j AS (SELECT k.k, u.user_id FROM k LEFT JOIN u ON u.span >= k.k)
      SELECT j.k, CAST(count(j.user_id) AS BIGINT) AS n_surviving,
             (1000 * count(j.user_id)) // max(n.nu) AS survival_permille
      FROM j, n GROUP BY j.k ORDER BY j.k"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val u = t(s, d, "events")
          .groupBy("user_id")
          .agg((max(dn) - min(dn)).as("span"))
        val h = u.groupBy("span").agg(count(lit(1)).as("cnt"))
        val grid = u.agg(max("span").as("mx"))
          .select(explode(expr("sequence(0, mx)")).as("k"))
        val rev = Window.orderBy("k").rowsBetween(0, Window.unboundedFollowing)
        grid.join(h, col("k") === col("span"), "left")
          .withColumn("n_surviving",
            sum(coalesce(col("cnt"), lit(0L))).over(rev).cast("long"))
          .crossJoin(broadcast(u.agg(count(lit(1)).as("nu"))))
          .select(col("k"), col("n_surviving"),
            expr("div(1000 * n_surviving, nu)").as("survival_permille"))
          .orderBy("k")
      }),

    // NEAREST AS-OF JOIN: each purchase matched to its user's
    // temporally CLOSEST click — before or after, min |Δt|, ties to
    // the earlier side — the sensor-alignment variant of
    // q_asof_join's backward-only pick. Same zero-join machinery:
    // union the two streams, ONE user-keyed Sort, the previous click
    // via last(IGNORE NULLS) over the preceding frame and the next
    // via first(IGNORE NULLS) over the following frame, then a pure
    // projection arbitrates. Clicks order before purchases at equal
    // timestamps (is_p in the sort key), so a same-instant click is
    // "previous" with Δt = 0 — deterministic on any engine.
    QDef("q_asof_nearest", Some("""
      WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS cid, user_id AS cu, epoch_us(ts) AS cts
            FROM events WHERE event_type = 'click'),
      u AS (SELECT pid, user_id, pts, NULL::BIGINT AS cid, NULL::BIGINT AS cts,
                   1 AS is_p FROM p
            UNION ALL SELECT NULL, cu, cts, cid, cts, 0 FROM c),
      f AS (SELECT *,
              last_value(CASE WHEN is_p = 0 THEN cid END IGNORE NULLS)
                OVER w1 AS prev_cid,
              last_value(CASE WHEN is_p = 0 THEN cts END IGNORE NULLS)
                OVER w1 AS prev_cts,
              first_value(CASE WHEN is_p = 0 THEN cid END IGNORE NULLS)
                OVER w2 AS next_cid,
              first_value(CASE WHEN is_p = 0 THEN cts END IGNORE NULLS)
                OVER w2 AS next_cts
            FROM u
            WINDOW w1 AS (PARTITION BY user_id
                          ORDER BY pts, is_p, coalesce(cid, pid)
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   w2 AS (PARTITION BY user_id
                          ORDER BY pts, is_p, coalesce(cid, pid)
                          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      SELECT pid, user_id,
        CASE WHEN prev_cid IS NULL THEN next_cid
             WHEN next_cid IS NULL THEN prev_cid
             WHEN pts - prev_cts <= next_cts - pts THEN prev_cid
             ELSE next_cid END AS nearest_click,
        CASE WHEN prev_cid IS NULL THEN next_cts - pts
             WHEN next_cid IS NULL THEN pts - prev_cts
             WHEN pts - prev_cts <= next_cts - pts THEN pts - prev_cts
             ELSE next_cts - pts END AS dt_us
      FROM f WHERE is_p = 1 ORDER BY pid"""),
      (s, d) => {
        val ev = t(s, d, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            unix_micros(col("ts")).as("pts"),
            lit(null).cast("long").as("cid"), lit(null).cast("long").as("cts"),
            lit(1).as("is_p"))
        val c = ev.filter(col("event_type") === "click")
          .select(lit(null).cast("long").as("pid"), col("user_id"),
            unix_micros(col("ts")).as("pts"),
            col("event_id").as("cid"), unix_micros(col("ts")).as("cts"),
            lit(0).as("is_p"))
        val ord = Window.partitionBy("user_id")
          .orderBy(col("pts"), col("is_p"), coalesce(col("cid"), col("pid")))
        val w1 = ord.rowsBetween(Window.unboundedPreceding, -1)
        val w2 = ord.rowsBetween(1, Window.unboundedFollowing)
        val clickId = when(col("is_p") === 0, col("cid"))
        val clickTs = when(col("is_p") === 0, col("cts"))
        p.unionByName(c)
          .withColumn("prev_cid", last(clickId, ignoreNulls = true).over(w1))
          .withColumn("prev_cts", last(clickTs, ignoreNulls = true).over(w1))
          .withColumn("next_cid", first(clickId, ignoreNulls = true).over(w2))
          .withColumn("next_cts", first(clickTs, ignoreNulls = true).over(w2))
          .filter(col("is_p") === 1)
          .select(col("pid"), col("user_id"),
            when(col("prev_cid").isNull, col("next_cid"))
              .when(col("next_cid").isNull, col("prev_cid"))
              .when(col("pts") - col("prev_cts") <= col("next_cts") - col("pts"),
                col("prev_cid"))
              .otherwise(col("next_cid")).as("nearest_click"),
            when(col("prev_cid").isNull, col("next_cts") - col("pts"))
              .when(col("next_cid").isNull, col("pts") - col("prev_cts"))
              .when(col("pts") - col("prev_cts") <= col("next_cts") - col("pts"),
                col("pts") - col("prev_cts"))
              .otherwise(col("next_cts") - col("pts")).as("dt_us"))
          .orderBy("pid")
      }),

    // NEW vs RETURNING SPLIT: per day, users seen for the first time
    // vs users coming back — the daily acquisition/retention
    // headline. First-touch day is one per-user aggregate; the
    // (day, user) presence set dedups BEFORE the join, so both sides
    // of the user-keyed join are ≤ |users|·|days| and the fact is
    // scanned once per side (Catalyst reuses the scan).
    QDef("q_new_vs_returning", Some("""
      WITH f AS (SELECT user_id,
                   min(epoch_us(date_trunc('day', ts)) // 86400000000) AS d0
                 FROM events GROUP BY 1),
      d AS (SELECT DISTINCT user_id,
                   epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum
            FROM events)
      SELECT d.dnum,
             CAST(sum(CASE WHEN d.dnum = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users,
             CAST(sum(CASE WHEN d.dnum > f.d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_users
      FROM d JOIN f ON d.user_id = f.user_id
      GROUP BY 1 ORDER BY dnum"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val f = t(s, d, "events").groupBy(col("user_id").as("fu"))
          .agg(min(dn).as("d0"))
        t(s, d, "events")
          .select(col("user_id"), dn.as("dnum")).distinct()
          .join(f, col("user_id") === col("fu"))
          .groupBy("dnum")
          .agg(sum(when(col("dnum") === col("d0"), 1L).otherwise(0L))
              .cast("long").as("new_users"),
            sum(when(col("dnum") > col("d0"), 1L).otherwise(0L))
              .cast("long").as("returning_users"))
          .orderBy("dnum")
      }),

    // Maximum drawdown per customer — the classic peak-to-trough
    // risk statistic over each customer's cumulative NET flow curve:
    // 'F' orders count negative (refund/chargeback stand-in), so the
    // series genuinely decreases and the statistic is non-vacuous at
    // every SF (advisor r9: the previous cumulative-spend series was
    // monotone, AND the peak window mistakenly ordered by cum_cents —
    // drawdown was structurally 0 for any input). BOTH windows order
    // by (o_orderdate, o_orderkey) — the peak must walk time, not
    // value — and share one frame spec, so Catalyst reuses a single
    // custkey exchange + sort. Output is customer-grain; per-key
    // state is two running BIGINTs — at 100 TB this is one
    // well-distributed window pass with no driver state. Money is
    // born-integer cents (sign applied AFTER the exact floor, so no
    // signed division/floor divergence can bite).
    QDef("q_max_drawdown", Some("""
      WITH c AS (
        SELECT o_custkey, o_orderdate, o_orderkey,
               sum((CASE WHEN o_orderstatus = 'F' THEN -1 ELSE 1 END) *
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_cents
        FROM orders),
      r AS (
        SELECT o_custkey, cum_cents,
               max(cum_cents) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS peak_cents
        FROM c)
      SELECT o_custkey, CAST(max(peak_cents - cum_cents) AS BIGINT)
               AS max_drawdown_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM r GROUP BY 1 ORDER BY o_custkey"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val signedCents =
          when(col("o_orderstatus") === "F", lit(-1L)).otherwise(lit(1L)) *
            floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
        t(s, d, "orders")
          .withColumn("cum_cents", sum(signedCents).over(w))
          .withColumn("peak_cents", max(col("cum_cents")).over(w))
          .groupBy("o_custkey")
          .agg(max(col("peak_cents") - col("cum_cents")).cast("long")
            .as("max_drawdown_cents"),
            count(lit(1)).as("n_orders"))
          .orderBy("o_custkey")
      }),

    // Longest consecutive-day activity streak per user — the
    // canonical gaps-and-islands: distinct (user, day) grid, island
    // id = day_number − row_number (constant within a consecutive
    // run), streak = island size, keep each user's max. Two window
    // passes over the SAME user partitioning (Catalyst reuses the
    // exchange), then a user-grain aggregate — day-grain state only,
    // so the pass is insensitive to raw event volume beyond the
    // first dedup.
    QDef("q_streak_longest", Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum
        FROM events),
      isl AS (
        SELECT user_id, dnum,
               dnum - row_number() OVER (PARTITION BY user_id ORDER BY dnum)
                 AS grp
        FROM days),
      runs AS (
        SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2)
      SELECT user_id, CAST(max(len) AS BIGINT) AS best_streak,
             CAST(sum(len) AS BIGINT) AS n_active_days
      FROM runs GROUP BY 1 ORDER BY user_id"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val days = t(s, d, "events")
          .select(col("user_id"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .distinct()
        days
          .withColumn("grp", col("dnum") -
            row_number().over(Window.partitionBy("user_id").orderBy("dnum")))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(max("len").cast("long").as("best_streak"),
            sum("len").cast("long").as("n_active_days"))
          .orderBy("user_id")
      }),

    // Theil–Sen robust trend slope per event type: the median of all
    // pairwise slopes over the daily count series. The pair stage is
    // a self-join of the DAILY aggregate with itself — bounded by
    // calendar days squared per type (435 pairs for a 30-day month),
    // NOT by raw event volume, so the expansion is fixed-size at any
    // SF. Median selection sorts by the IEEE slope (identical
    // exactly-rounded double in both engines) with (dy, dx)
    // tiebreaks; equal-key rows are output-identical, so the pick is
    // hash-stable. Only integers cross the oracle surface — the
    // milli-slope is floor(1000·dy/dx) of that same shared double.
    QDef("q_theil_sen", Some("""
      WITH daily AS (
        SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               count(*) AS c
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.event_type, b.c - a.c AS dy, b.dnum - a.dnum AS dx
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.dnum > a.dnum),
      ranked AS (
        SELECT event_type, dy, dx,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM pairs)
      SELECT event_type, CAST(dy AS BIGINT) AS med_dy,
             CAST(dx AS BIGINT) AS med_dx,
             CAST(floor(1000.0 * dy / dx) AS BIGINT) AS slope_milli
      FROM ranked WHERE rn = (cnt + 1) // 2
      ORDER BY event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("c"))
        val a = daily.select(col("event_type"), col("dnum").as("d1"),
          col("c").as("c1"))
        val b = daily.select(col("event_type").as("et2"), col("dnum").as("d2"),
          col("c").as("c2"))
        val w = Window.partitionBy("event_type")
        a.join(b, col("event_type") === col("et2") && col("d2") > col("d1"))
          .select(col("event_type"), (col("c2") - col("c1")).as("dy"),
            (col("d2") - col("d1")).as("dx"))
          .withColumn("rn", row_number().over(
            w.orderBy(col("dy").cast("double") / col("dx"), col("dy"), col("dx"))))
          .withColumn("cnt", count(lit(1)).over(w))
          .filter(col("rn") === expr("div(cnt + 1, 2)"))
          .select(col("event_type"), col("dy").cast("long").as("med_dy"),
            col("dx").cast("long").as("med_dx"),
            floor(lit(1000.0) * col("dy") / col("dx")).cast("long")
              .as("slope_milli"))
          .orderBy("event_type")
      }),

    // Autocorrelation profile (ACF at lags 1..7) per event type over
    // the daily count series — the seasonality probe behind every
    // forecasting pipeline. The lag alignment is an equi-join of the
    // DAILY aggregate against itself on (type, day+lag) after a
    // 7-way lag explode — bounded by calendar days × 7 per type, not
    // raw volume, so the expansion is fixed-size at any SF. The
    // oracle surface carries the EXACT integer moment sums (n, Σx,
    // Σy, Σxy, Σx², Σy²) so a consumer can reconstruct the ACF at
    // full precision; acf_milli is floor(1000·r) of the shared
    // exactly-rounded IEEE value (variance products go through
    // DOUBLE because n·Σx² − (Σx)² squared-products would overflow
    // BIGINT at high SF; sqrt/division are identically rounded in
    // both engines).
    QDef("q_acf_lags", Some("""
      WITH daily AS (
        SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      lags AS (SELECT unnest(range(1, 8)) AS lg),
      p AS (SELECT a.event_type, l.lg, a.c AS x, b.c AS y
            FROM daily a CROSS JOIN lags l
            JOIN daily b ON b.event_type = a.event_type
                        AND b.dnum = a.dnum + l.lg),
      agg AS (SELECT event_type, lg, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(y * y) AS BIGINT) AS syy
              FROM p GROUP BY 1, 2)
      SELECT event_type, CAST(lg AS BIGINT) AS lg, n, sx, sy, sxy, sxx, syy,
             CAST(CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
                       THEN 0
                  ELSE floor(1000.0 * (n * sxy - sx * sy) /
                        sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                             CAST(n * syy - sy * sy AS DOUBLE)))
                  END AS BIGINT) AS acf_milli
      FROM agg ORDER BY event_type, lg"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("c"))
        val a = daily
          .withColumn("lg", explode(expr("sequence(1L, 7L)")))
          .select(col("event_type"), col("lg"),
            (col("dnum") + col("lg")).as("dtarget"), col("c").as("x"))
        val b = daily.select(col("event_type").as("et2"),
          col("dnum").as("d2"), col("c").as("y"))
        a.join(b, col("event_type") === col("et2") && col("d2") === col("dtarget"))
          .groupBy("event_type", "lg")
          .agg(count(lit(1)).as("n"),
            sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
            sum(col("x") * col("y")).cast("long").as("sxy"),
            sum(col("x") * col("x")).cast("long").as("sxx"),
            sum(col("y") * col("y")).cast("long").as("syy"))
          .withColumn("acf_milli",
            when(col("n") * col("sxx") - col("sx") * col("sx") <= 0 ||
                 col("n") * col("syy") - col("sy") * col("sy") <= 0, 0L)
              .otherwise(floor(lit(1000.0) *
                (col("n") * col("sxy") - col("sx") * col("sy")) /
                sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                     (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
              .cast("long"))
          .select(col("event_type"), col("lg").cast("long").as("lg"),
            col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
            col("acf_milli"))
          .orderBy("event_type", "lg")
      }),

    // Two-sample Kolmogorov–Smirnov distance between the click and
    // purchase VALUE distributions — the nonparametric drift test
    // that complements q_chi2_independence (categorical) and
    // q_drift_shares (share deltas): D = max over the merged support
    // of |F_click − F_purchase|, with the ECDFs held as exact
    // integer ppm fractions (cum_count·1e6 // n, all positive, so
    // truncating and flooring division agree). The only ordered pass
    // is the cumulative sum over the DISTINCT cents support — value
    // is bounded in [0, ~560], so the support is ≤56k rows at ANY
    // fact size: domain-bounded, not data-bounded, which is what
    // makes single-pass exact KS viable at 100 TB. Output is the
    // 1-row statistic plus the location where the gap peaks
    // (smallest such cents value — the row_number pick is total).
    QDef("q_ks_two_sample", Some("""
      WITH pts AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ca,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS cb
        FROM events WHERE event_type IN ('click', 'purchase')),
      per AS (SELECT x, CAST(sum(ca) AS BIGINT) AS a, CAST(sum(cb) AS BIGINT) AS b
              FROM pts GROUP BY x),
      tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM per),
      cum AS (SELECT x,
                sum(a) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
                sum(b) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
              FROM per),
      gap AS (SELECT x,
                abs((1000000 * cuma) // na - (1000000 * cumb) // nb) AS d_ppm,
                na, nb
              FROM cum, tot)
      SELECT CAST(d_ppm AS BIGINT) AS ks_ppm, CAST(x AS BIGINT) AS at_cents,
             CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_purchase
      FROM (SELECT *, row_number() OVER (ORDER BY d_ppm DESC, x) AS rn FROM gap)
      WHERE rn = 1"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val per = t(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("x"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("ca"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("cb"))
          .groupBy("x")
          .agg(sum("ca").cast("long").as("a"), sum("cb").cast("long").as("b"))
        val tot = per.agg(sum("a").cast("long").as("na"),
          sum("b").cast("long").as("nb"))
        // domain-bounded support (≤56k distinct cents) — the single
        // partition here is over the value domain, never the fact
        val w = Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        per
          .select(col("x"), sum("a").over(w).as("cuma"), sum("b").over(w).as("cumb"))
          .crossJoin(broadcast(tot))
          .select(col("x"),
            abs(expr("div(1000000 * cuma, na)") - expr("div(1000000 * cumb, nb)"))
              .as("d_ppm"),
            col("na"), col("nb"))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("d_ppm").desc, col("x"))))
          .filter(col("rn") === 1)
          .select(col("d_ppm").cast("long").as("ks_ppm"),
            col("x").cast("long").as("at_cents"),
            col("na").as("n_click"), col("nb").as("n_purchase"))
      }),

    // Lorenz concentration curve over customer spend — the
    // decile-grain cumulative-share readout behind every "top X% of
    // customers hold Y% of revenue" statement (the curve whose area
    // doubles into the Gini). ntile(10) over the TOTAL order
    // (cents, custkey) is engine-portable: SQL ntile deals
    // ceil-then-floor bucket sizes deterministically given a total
    // order. The unpartitioned window runs over the CUSTOMER
    // aggregate, one row per customer — at 100 TB that's dim-sized,
    // and the decile rollup + running share are 10-row operations.
    // Shares are exact integer ppm (positive // on both engines);
    // 1e6·cum scales with TOTAL money (2e19 at sf1 — the r13 sf1
    // sweep caught the BIGINT overflow live), so the ppm product
    // routes through DECIMAL(38,0) / HUGEINT and only the ≤1e6
    // quotient crosses the oracle.
    QDef("q_lorenz_deciles", Some("""
      WITH spend AS (SELECT o_custkey,
              CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
            FROM orders GROUP BY 1),
      dec AS (SELECT cents, ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
              FROM spend),
      agg AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
                CAST(sum(cents) AS BIGINT) AS decile_cents
              FROM dec GROUP BY 1),
      tot AS (SELECT sum(decile_cents) AS tc FROM agg)
      SELECT CAST(decile AS BIGINT) AS decile, n_customers, decile_cents,
             CAST((1000000 * CAST(sum(decile_cents) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)) // tc
               AS BIGINT) AS cum_share_ppm
      FROM agg, tot ORDER BY decile"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val spend = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long"))
            .cast("long").as("cents"))
        val agg = spend
          .withColumn("decile",
            ntile(10).over(Window.orderBy(col("cents"), col("o_custkey"))))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_customers"),
            sum("cents").cast("long").as("decile_cents"))
        agg
          .crossJoin(broadcast(agg.agg(sum("decile_cents").cast("long").as("tc"))))
          .withColumn("cum", sum("decile_cents").over(Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("decile").cast("long").as("decile"), col("n_customers"),
            col("decile_cents"),
            expr("div(1000000 * cast(cum as decimal(38,0)), tc)")
              .cast("long").as("cum_share_ppm"))
          .orderBy("decile")
      }),

    // Out-of-orderness (lateness) profile — the measurement that
    // SIZES a streaming watermark: replay events in arrival order
    // (event_id is the synthetic arrival sequence), track each
    // user's high-water-mark timestamp, and histogram how far behind
    // the HWM each event's own timestamp lands. Buckets are decimal
    // decades of seconds via the DIGIT COUNT of the integer lateness
    // (length of its string form — portable, no float log whose
    // rounding could flip a boundary). One window pass partitioned
    // by user (fact-scale but perfectly keyed), then a ≤10-row
    // histogram. Feeds withWatermark() choices in the streaming
    // faces (EventStream): pick the decade that covers the tail you
    // can afford to wait for.
    QDef("q_lateness_profile", Some("""
      WITH o AS (SELECT user_id, ts,
               max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
             FROM events),
      l AS (SELECT (epoch_us(hwm) - epoch_us(ts)) // 1000000 AS late_sec FROM o),
      b AS (SELECT CASE WHEN late_sec = 0 THEN 0
                        ELSE length(CAST(late_sec AS VARCHAR)) END AS decade,
                   late_sec FROM l)
      SELECT CAST(decade AS BIGINT) AS decade, CAST(count(*) AS BIGINT) AS n,
             CAST(min(late_sec) AS BIGINT) AS min_sec,
             CAST(max(late_sec) AS BIGINT) AS max_sec
      FROM b GROUP BY 1 ORDER BY decade"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("hwm", max("ts").over(w))
          .select(expr("div(unix_micros(hwm) - unix_micros(ts), 1000000)")
            .as("late_sec"))
          .select(when(col("late_sec") === 0, 0L)
            .otherwise(length(col("late_sec").cast("string")).cast("long"))
            .as("decade"), col("late_sec"))
          .groupBy("decade")
          .agg(count(lit(1)).as("n"), min("late_sec").cast("long").as("min_sec"),
            max("late_sec").cast("long").as("max_sec"))
          .orderBy("decade")
      }),

    // Price-elasticity regression per brand: the OLS slope of units
    // sold against part retail price, fitted from EXACT integer
    // moment sums over the (part, price, quantity) points — the same
    // moments-not-residuals discipline as q_trend_slope/q_moving_corr
    // but over a price axis, which is what a pricing team actually
    // regresses. The fact aggregates once per part (map-side
    // combined), the regression inputs are part-grain — dim-sized at
    // any SF. slope_micro is floor of the shared IEEE ratio; the raw
    // sums ship alongside so the consumer can rebuild intercept/R²
    // exactly. Components stay in BIGINT while Σxy < 1e18 — at
    // larger scales pre-scale y to thousands.
    QDef("q_price_elasticity", Some("""
      WITH pp AS (SELECT p.p_brand, p.p_partkey,
              CAST(floor(p.p_retailprice * 100.0 + 0.5) AS BIGINT) AS x,
              CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS y
            FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2, 3),
      m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
            FROM pp GROUP BY 1)
      SELECT p_brand, n, sx, sy, sxy, sxx,
             CAST(CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
                  THEN 0
                  ELSE floor(1000000.0 *
                    CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                      AS DOUBLE) /
                    CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                      AS DOUBLE)) END AS BIGINT) AS slope_micro
      FROM m ORDER BY p_brand"""),
      (s, d) => {
        val pp = t(s, d, "lineitem").select("l_partkey", "l_quantity")
          .join(broadcast(t(s, d, "part")
            .select(col("p_partkey"), col("p_brand"),
              floor(col("p_retailprice") * lit(100.0) + lit(0.5)).cast("long")
                .as("x"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_partkey", "x")
          .agg(sum(col("l_quantity").cast("long")).cast("long").as("y"))
        pp.groupBy("p_brand")
          .agg(count(lit(1)).as("n"), sum("x").cast("long").as("sx"),
            sum("y").cast("long").as("sy"),
            sum(col("x") * col("y")).cast("long").as("sxy"),
            sum(col("x") * col("x")).cast("long").as("sxx"))
          // n·sxx passes 2^63 at sf10 (80k parts/brand × Σx² ≈ 6e19):
          // the moment DIFFERENCES are exact in DECIMAL(38,0)/HUGEINT,
          // then the slope stays the shared IEEE double ratio — same
          // doubles as before wherever BIGINT didn't overflow.
          .withColumn("den", expr(
            "cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx"))
          .withColumn("num", expr(
            "cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy"))
          .withColumn("slope_micro",
            when(col("den") === 0, 0L)
              .otherwise(floor(lit(1000000.0) *
                col("num").cast("double") / col("den").cast("double")))
              .cast("long"))
          .drop("num", "den")
          .orderBy("p_brand")
      }),

    // POSITION-BASED (U-shaped) attribution — completes the model
    // family next to first/last/linear: 40% of each conversion's
    // credit to the first touch, 40% to the last, 20% split evenly
    // across the middles. Same 7-day click→purchase journey as
    // q_attribution_linear (user-keyed interval join, bounded by the
    // window), positions from ONE row_number per journey (total
    // order (cts, cid)). Credit is integer ppm: the middle share
    // floors (200000 // (n−2)) and the flooring REMAINDER rides the
    // first touch, so every journey's credits sum to exactly
    // 1,000,000 — conservation is arithmetic, not approximate.
    QDef("q_attribution_position", Some("""
      WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS cts
            FROM events WHERE event_type = 'click'),
      pairs AS (SELECT p.pid, p.user_id, c.cid, c.cts
                FROM p JOIN c ON p.user_id = c.user_id
                 AND c.cts <= p.pts AND c.cts > p.pts - 604800000000),
      rk AS (SELECT pid, user_id, cid,
               row_number() OVER (PARTITION BY pid ORDER BY cts, cid) AS rn,
               count(*) OVER (PARTITION BY pid) AS n
             FROM pairs),
      credit AS (SELECT user_id, cid,
          CASE WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN rn = 1 THEN 400000 + (200000 - (n - 2) * (200000 // (n - 2)))
               WHEN rn = n THEN 400000
               ELSE 200000 // (n - 2) END AS ppm
        FROM rk)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_credits,
             CAST(sum(ppm) AS BIGINT) AS credit_ppm
      FROM credit GROUP BY 1 ORDER BY user_id"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            unix_micros(col("ts")).as("pts"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("cid"), col("user_id").as("cuid"),
            unix_micros(col("ts")).as("cts"))
        val w = Window.partitionBy("pid")
        p.join(c,
          col("user_id") === col("cuid") &&
            col("cts") <= col("pts") && col("cts") > col("pts") - lit(604800000000L))
          .select(col("pid"), col("user_id"), col("cid"), col("cts"))
          .withColumn("rn", row_number().over(w.orderBy(col("cts"), col("cid"))))
          .withColumn("n", count(lit(1)).over(w))
          .select(col("user_id"), col("cid"),
            when(col("n") === 1, 1000000L)
              .when(col("n") === 2, 500000L)
              .when(col("rn") === 1, lit(400000L) +
                (lit(200000L) - (col("n") - 2) * expr("div(200000, n - 2)")))
              .when(col("rn") === col("n"), 400000L)
              .otherwise(expr("div(200000, n - 2)")).as("ppm"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_credits"),
            sum("ppm").cast("long").as("credit_ppm"))
          .orderBy("user_id")
      }),

    // TIME-WEIGHTED average value per (user, day) — TWAP: each
    // event's value holds until the next event (lead() within the
    // user-day), weighted by that holding duration in micros; the
    // day's last event holds to midnight. Duration×cents products
    // stay exact BIGINT (≤86400e6 µs × cents), the final ratio is
    // positive integer division. One lead window and one aggregate,
    // both on the same (user, day) keying — a single exchange.
    // Distinct from OHLC (order statistics) and the volume-weighted
    // median (mass quantile): this is the time-in-state mean a
    // billing/metering pipeline computes.
    QDef("q_time_weighted_avg", Some("""
      WITH e AS (SELECT user_id,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               epoch_us(ts) AS s,
               epoch_us(date_trunc('day', ts)) + 86400000000 AS day_end,
               event_id,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
             FROM events),
      d AS (SELECT user_id, day, cents,
              coalesce(lead(s) OVER (PARTITION BY user_id, day
                ORDER BY s, event_id), day_end) - s AS dur_us
            FROM e)
      SELECT user_id, day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(dur_us) AS BIGINT) AS held_us,
             CAST(sum(cents * dur_us) // sum(dur_us) AS BIGINT) AS twap_cents
      FROM d GROUP BY 1, 2 ORDER BY user_id, day"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "events")
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"),
            unix_micros(col("ts")).as("s"),
            (unix_micros(date_trunc("day", col("ts"))) + lit(86400000000L))
              .as("day_end"),
            col("event_id"),
            floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        e.withColumn("dur_us",
          coalesce(lead("s", 1).over(Window.partitionBy("user_id", "day")
            .orderBy(col("s"), col("event_id"))), col("day_end")) - col("s"))
          .groupBy("user_id", "day")
          .agg(count(lit(1)).as("n_events"),
            sum("dur_us").cast("long").as("held_us"),
            expr("div(sum(cents * dur_us), sum(dur_us))").cast("long")
              .as("twap_cents"))
          .orderBy("user_id", "day")
      }),

    // Mann–Whitney U rank test, click vs purchase values — the
    // LOCATION-shift complement to q_ks_two_sample's shape test,
    // computed WITHOUT ranking individual rows: collapse both
    // samples to per-cents counts first, then every tie group's
    // average rank falls out of the cumulative counts
    // (doubled-rank 2·cum_before + tie + 1 keeps ties integral).
    // The rank pass therefore runs over the DOMAIN-bounded support
    // (≤56k cents values), never the fact — the same trick that
    // makes the exact KS viable at 100 TB. U in half-units (u2),
    // rank-biserial effect size as floor of the shared IEEE ratio.
    QDef("q_mann_whitney", Some("""
      WITH pts AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ca,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS cb
             FROM events WHERE event_type IN ('click', 'purchase')),
      per AS (SELECT x, CAST(sum(ca) AS BIGINT) AS a, CAST(sum(cb) AS BIGINT) AS b
              FROM pts GROUP BY x),
      cum AS (SELECT x, a, b,
                sum(a + b) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (a + b)
                  AS before_all
              FROM per),
      tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM per),
      u AS (SELECT sum(a * (2 * before_all + (a + b) + 1)) AS r2a, na, nb
            FROM cum, tot GROUP BY na, nb)
      SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_purchase,
             CAST(r2a - na * (na + 1) AS BIGINT) AS u2_click,
             CAST(2 * na * nb - (r2a - na * (na + 1)) AS BIGINT) AS u2_purchase,
             CAST(floor(1000.0 * (r2a - na * (na + 1)) / (na * nb) - 1000.0)
               AS BIGINT) AS rank_biserial_milli
      FROM u"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val per = t(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("x"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("ca"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("cb"))
          .groupBy("x")
          .agg(sum("ca").cast("long").as("a"), sum("cb").cast("long").as("b"))
        val w = Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = per.withColumn("before_all",
          sum(col("a") + col("b")).over(w) - (col("a") + col("b")))
        val tot = per.agg(sum("a").cast("long").as("na"),
          sum("b").cast("long").as("nb"))
        cum.crossJoin(broadcast(tot))
          .groupBy("na", "nb")
          .agg(sum(col("a") * (lit(2) * col("before_all") + col("a") + col("b")
            + 1)).cast("long").as("r2a"))
          .select(col("na").as("n_click"), col("nb").as("n_purchase"),
            (col("r2a") - col("na") * (col("na") + 1)).cast("long").as("u2_click"),
            (lit(2) * col("na") * col("nb") -
              (col("r2a") - col("na") * (col("na") + 1))).cast("long")
              .as("u2_purchase"),
            floor(lit(1000.0) * (col("r2a") - col("na") * (col("na") + 1)) /
              (col("na") * col("nb")) - lit(1000.0)).cast("long")
              .as("rank_biserial_milli"))
      }),

    // Burstiness (Fano factor) of the per-minute arrival process per
    // event type — variance-to-mean of the minute-bucket counts,
    // the dispersion diagnostic that separates Poisson-ish traffic
    // (Fano≈1) from bursty or regularized streams. ZERO-count
    // minutes matter: n is the full calendar minute span (max−min+1
    // over the whole table, one broadcast row), not just occupied
    // minutes — Σx and Σx² are unaffected by zeros, so the exact
    // moments come from the occupied buckets alone and no dense
    // spine is materialized. fano_milli floors the shared IEEE
    // ratio; moment sums ship for exact downstream use.
    QDef("q_burstiness_fano", Some("""
      WITH m AS (SELECT event_type,
               epoch_us(date_trunc('minute', ts)) // 60000000 AS mnum
             FROM events),
      span AS (SELECT max(mnum) - min(mnum) + 1 AS n FROM m),
      c AS (SELECT event_type, mnum, CAST(count(*) AS BIGINT) AS x
            FROM m GROUP BY 1, 2),
      agg AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(count(*) AS BIGINT) AS occupied
              FROM c GROUP BY 1)
      SELECT event_type, CAST(n AS BIGINT) AS n_minutes, occupied, sx, sxx,
             CAST(floor(1000.0 * (n * sxx - sx * sx) / ((n - 1) * sx))
               AS BIGINT) AS fano_milli
      FROM agg, span ORDER BY event_type"""),
      (s, d) => {
        val m = t(s, d, "events")
          .select(col("event_type"),
            expr("div(unix_micros(date_trunc('minute', ts)), 60000000)")
              .as("mnum"))
        val span = m.agg((max("mnum") - min("mnum") + 1).cast("long").as("n"))
        m.groupBy("event_type", "mnum")
          .agg(count(lit(1)).as("x"))
          .groupBy("event_type")
          .agg(sum("x").cast("long").as("sx"),
            sum(col("x") * col("x")).cast("long").as("sxx"),
            count(lit(1)).as("occupied"))
          .crossJoin(broadcast(span))
          .select(col("event_type"), col("n").as("n_minutes"), col("occupied"),
            col("sx"), col("sxx"),
            floor(lit(1000.0) * (col("n") * col("sxx") - col("sx") * col("sx")) /
              ((col("n") - 1) * col("sx"))).cast("long").as("fano_milli"))
          .orderBy("event_type")
      }),

    // Difference-in-differences lift readout — the causal-inference
    // workhorse for "did the change move the metric beyond the
    // trend": purchase-share ppm for each (cohort × period) cell
    // (cohorts = user parity, periods split at day 15 of the
    // observed calendar via a broadcast min-day scalar), DiD =
    // (treat_post − treat_pre) − (ctrl_post − ctrl_pre). One
    // map-side-combined 4-cell aggregate over the fact, then 1-row
    // arithmetic on exact integer ppm rates — no float, no per-user
    // state.
    QDef("q_did_lift", Some("""
      WITH d0 AS (SELECT min(epoch_us(date_trunc('day', ts)) // 86400000000)
                    AS m FROM events),
      e AS (SELECT user_id % 2 AS grp,
              CASE WHEN epoch_us(date_trunc('day', ts)) // 86400000000 - d0.m
                   < 15 THEN 0 ELSE 1 END AS period,
              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
            FROM events, d0),
      c AS (SELECT grp, period, CAST(sum(conv) AS BIGINT) AS pos,
              CAST(count(*) AS BIGINT) AS n
            FROM e GROUP BY 1, 2),
      r AS (SELECT grp, period, (1000000 * pos) // n AS rate_ppm FROM c)
      SELECT
        CAST(max(CASE WHEN grp = 0 AND period = 0 THEN rate_ppm END) AS BIGINT)
          AS ctrl_pre_ppm,
        CAST(max(CASE WHEN grp = 0 AND period = 1 THEN rate_ppm END) AS BIGINT)
          AS ctrl_post_ppm,
        CAST(max(CASE WHEN grp = 1 AND period = 0 THEN rate_ppm END) AS BIGINT)
          AS treat_pre_ppm,
        CAST(max(CASE WHEN grp = 1 AND period = 1 THEN rate_ppm END) AS BIGINT)
          AS treat_post_ppm,
        CAST((max(CASE WHEN grp = 1 AND period = 1 THEN rate_ppm END) -
              max(CASE WHEN grp = 1 AND period = 0 THEN rate_ppm END)) -
             (max(CASE WHEN grp = 0 AND period = 1 THEN rate_ppm END) -
              max(CASE WHEN grp = 0 AND period = 0 THEN rate_ppm END))
          AS BIGINT) AS did_ppm
      FROM r"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val ev = t(s, d, "events")
        val d0 = ev.agg(min(dn).as("m"))
        val r = ev.select((col("user_id") % 2).as("grp"), dn.as("dnum"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
          .crossJoin(broadcast(d0))
          .select(col("grp"),
            when(col("dnum") - col("m") < 15, 0).otherwise(1).as("period"),
            col("conv"))
          .groupBy("grp", "period")
          .agg(sum("conv").cast("long").as("pos"), count(lit(1)).as("n"))
          .select(col("grp"), col("period"),
            expr("div(1000000 * pos, n)").as("rate_ppm"))
        def cell(g: Int, p: Int) =
          max(when(col("grp") === g && col("period") === p, col("rate_ppm")))
        r.agg(cell(0, 0).cast("long").as("ctrl_pre_ppm"),
          cell(0, 1).cast("long").as("ctrl_post_ppm"),
          cell(1, 0).cast("long").as("treat_pre_ppm"),
          cell(1, 1).cast("long").as("treat_post_ppm"),
          ((cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0))).cast("long")
            .as("did_ppm"))
      }),

    // LTOB downsampling (largest-triangle-one-bucket, the parallel
    // sibling of LTTB): keep, per fixed 5-day bucket, the daily
    // point spanning the LARGEST triangle against the neighbor
    // buckets' mean points — the standard way a metrics store thins
    // a series for plotting while preserving visual extremes. Unlike
    // sequential LTTB (each pick depends on the previous), anchoring
    // to bucket means makes every bucket independent: one daily
    // aggregate, one bucket-mean aggregate (floored integer means),
    // two broadcast-sized neighbor joins, one argmax window per
    // bucket. Areas are exact integer cross products — twice the
    // triangle area, no halving, no floats. Edge buckets (missing a
    // neighbor) are not emitted.
    QDef("q_lttb_downsample", Some("""
      WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS x,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1),
      bk AS (SELECT x, y, x // 5 AS b FROM daily),
      nb AS (SELECT b, sum(x) // count(*) AS mx, sum(y) // count(*) AS my
             FROM bk GROUP BY b),
      cand AS (SELECT k.b, k.x, k.y,
                 p.mx AS mxp, p.my AS myp, n.mx AS mxn, n.my AS myn
               FROM bk k JOIN nb p ON p.b = k.b - 1
                         JOIN nb n ON n.b = k.b + 1),
      area AS (SELECT b, x, y,
                 abs((mxp - x) * (myn - y) - (mxn - x) * (myp - y)) AS area2
               FROM cand),
      pick AS (SELECT b, x, y, area2,
                 row_number() OVER (PARTITION BY b ORDER BY area2 DESC, x)
                   AS rn
               FROM area)
      SELECT CAST(b AS BIGINT) AS bucket, CAST(x AS BIGINT) AS dnum,
             y AS n_events, CAST(area2 AS BIGINT) AS area2
      FROM pick WHERE rn = 1 ORDER BY bucket"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, d, "events")
          .groupBy(expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
            .as("x"))
          .agg(count(lit(1)).as("y"))
        val bk = daily.withColumn("b", expr("div(x, 5)"))
        val nb = bk.groupBy("b")
          .agg(expr("div(sum(x), count(1))").as("mx"),
            expr("div(sum(y), count(1))").as("my"))
        bk
          .join(broadcast(nb.select((col("b") + 1).as("b"),
            col("mx").as("mxp"), col("my").as("myp"))), Seq("b"))
          .join(broadcast(nb.select((col("b") - 1).as("b"),
            col("mx").as("mxn"), col("my").as("myn"))), Seq("b"))
          .withColumn("area2",
            abs((col("mxp") - col("x")) * (col("myn") - col("y")) -
                (col("mxn") - col("x")) * (col("myp") - col("y"))))
          .withColumn("rn", row_number().over(
            Window.partitionBy("b").orderBy(col("area2").desc, col("x"))))
          .filter(col("rn") === 1)
          .select(col("b").cast("long").as("bucket"),
            col("x").cast("long").as("dnum"), col("y").as("n_events"),
            col("area2").cast("long").as("area2"))
          .orderBy("bucket")
      }),

    // HOLT'S LINEAR-TREND smoothing (double exponential, α=0.3
    // β=0.1) over the daily series per event type, as a FIXED-POINT
    // INTEGER recurrence in milli-units: every level/trend update is
    // integer arithmetic floored through an integer-valued double
    // (exact below 2^53, floor identical in both engines) — no
    // drifting float state, and the deliberate floor(x/1000.0) form
    // sidesteps the truncate-vs-floor divergence of integer division
    // on negatives. The sequential dependency lives INSIDE one
    // calendar-bounded array per type: Spark folds a ≤31-element
    // sorted array with the higher-order aggregate() (scale-free —
    // series length is calendar, not data), the oracle unrolls the
    // same recurrence as a recursive CTE. Ships the terminal state
    // plus the 1/2/3-day linear forecasts.
    QDef("q_holt_linear", Some("""
      WITH RECURSIVE daily AS (
        SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      idx AS (SELECT event_type, y,
                row_number() OVER (PARTITION BY event_type ORDER BY dnum) AS i,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM daily),
      rec AS (
        SELECT event_type, i, n, 1000 * y AS l, CAST(0 AS BIGINT) AS b
        FROM idx WHERE i = 1
        UNION ALL
        SELECT x.event_type, x.i, x.n,
          CAST(floor((300 * 1000 * x.y + 700 * (r.l + r.b)) / 1000.0)
            AS BIGINT),
          CAST(floor((100 * (CAST(floor((300 * 1000 * x.y + 700 * (r.l + r.b))
                       / 1000.0) AS BIGINT) - r.l) + 900 * r.b) / 1000.0)
            AS BIGINT)
        FROM rec r JOIN idx x
          ON x.event_type = r.event_type AND x.i = r.i + 1)
      SELECT event_type, CAST(n AS BIGINT) AS n_days,
             l AS level_milli, b AS trend_milli,
             CAST(l + b AS BIGINT) AS f1_milli,
             CAST(l + 2 * b AS BIGINT) AS f2_milli,
             CAST(l + 3 * b AS BIGINT) AS f3_milli
      FROM rec WHERE i = n ORDER BY event_type"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
        daily.groupBy("event_type")
          .agg(expr("array_sort(collect_list(struct(dnum, y)))").as("s"))
          .select(col("event_type"), size(col("s")).cast("long").as("n_days"),
            expr("""aggregate(slice(s, 2, size(s) - 1),
              struct(1000L * element_at(s, 1).y AS l, 0L AS b),
              (acc, p) -> struct(
                CAST(floor((300 * 1000 * p.y + 700 * (acc.l + acc.b)) / 1000.0)
                  AS BIGINT) AS l,
                CAST(floor((100 * (CAST(floor((300 * 1000 * p.y +
                       700 * (acc.l + acc.b)) / 1000.0) AS BIGINT) - acc.l) +
                       900 * acc.b) / 1000.0) AS BIGINT) AS b))""").as("st"))
          .select(col("event_type"), col("n_days"),
            col("st.l").as("level_milli"), col("st.b").as("trend_milli"),
            (col("st.l") + col("st.b")).cast("long").as("f1_milli"),
            (col("st.l") + lit(2) * col("st.b")).cast("long").as("f2_milli"),
            (col("st.l") + lit(3) * col("st.b")).cast("long").as("f3_milli"))
          .orderBy("event_type")
      }),

    // PINBALL (quantile) LOSS evaluation with a temporal split — the
    // standard scorecard for quantile forecasts: fit p10/p50/p90 of
    // value-cents per event type on the FIRST half of the calendar
    // (percentile_disc on the train slice), score the SECOND half
    // with pinball loss in integer permille·cents: q·(y−ŷ) above
    // the prediction, (1000−q)·(ŷ−y) below. The quantile table is 3
    // rows per type (broadcast); the test scan streams once through
    // the codegen'd loss expression and one map-side-combined
    // aggregate. The asymmetric-loss law (p10 under-predicts cheap,
    // over-predicts dear) is what the spec pins.
    QDef("q_pinball_eval", Some("""
      WITH d0 AS (SELECT min(epoch_us(date_trunc('day', ts)) // 86400000000)
                    AS m FROM events),
      e AS (SELECT event_type,
              epoch_us(date_trunc('day', ts)) // 86400000000 - d0.m AS rd,
              CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM events, d0),
      tr AS (SELECT * FROM e WHERE rd < 15),
      qt AS (
        SELECT event_type, 100 AS qp,
               CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY cents)
                 AS BIGINT) AS yhat
        FROM tr GROUP BY 1
        UNION ALL
        SELECT event_type, 500,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                 AS BIGINT)
        FROM tr GROUP BY 1
        UNION ALL
        SELECT event_type, 900,
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)
                 AS BIGINT)
        FROM tr GROUP BY 1),
      te AS (SELECT event_type, cents FROM e WHERE rd >= 15),
      l AS (SELECT t.event_type, q.qp, q.yhat,
              CASE WHEN t.cents >= q.yhat THEN q.qp * (t.cents - q.yhat)
                   ELSE (1000 - q.qp) * (q.yhat - t.cents) END AS loss
            FROM te t JOIN qt q ON q.event_type = t.event_type)
      SELECT event_type, CAST(qp AS BIGINT) AS q_permille,
             CAST(yhat AS BIGINT) AS yhat_cents,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(loss) AS BIGINT) AS total_loss,
             CAST(sum(loss) // count(*) AS BIGINT) AS mean_loss_milli
      FROM l GROUP BY 1, 2, 3 ORDER BY event_type, q_permille"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val ev = t(s, d, "events")
        val d0 = ev.agg(min(dn).as("m"))
        val e = ev.select(col("event_type"), dn.as("dnum"),
            floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
          .crossJoin(broadcast(d0))
          .select(col("event_type"), (col("dnum") - col("m")).as("rd"),
            col("cents"))
        val tr = e.filter(col("rd") < 15)
        def qrow(p: Double, qp: Long) = tr.groupBy("event_type")
          .agg(expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY cents)")
            .cast("long").as("yhat"))
          .withColumn("qp", lit(qp))
        val qt = qrow(0.1, 100L)
          .unionByName(qrow(0.5, 500L)).unionByName(qrow(0.9, 900L))
          .select(col("event_type").as("qet"), col("qp"), col("yhat"))
        e.filter(col("rd") >= 15)
          .join(broadcast(qt), col("event_type") === col("qet"))
          .select(col("event_type"), col("qp"), col("yhat"),
            when(col("cents") >= col("yhat"),
              col("qp") * (col("cents") - col("yhat")))
              .otherwise((lit(1000L) - col("qp")) * (col("yhat") - col("cents")))
              .as("loss"))
          .groupBy("event_type", "qp", "yhat")
          .agg(count(lit(1)).as("n_test"), sum("loss").cast("long").as("total_loss"))
          .select(col("event_type"), col("qp").as("q_permille"),
            col("yhat").as("yhat_cents"), col("n_test"), col("total_loss"),
            expr("div(total_loss, n_test)").cast("long").as("mean_loss_milli"))
          .orderBy("event_type", "q_permille")
      }),

    // BOOTSTRAP confidence interval for the median daily event count
    // — with a DETERMINISTIC resampler: draw b-th resample's i-th
    // element by an md5-integer hash of (b,i) mod n (the
    // q_sample_stratified no-rand() discipline), so the CI is
    // bit-reproducible on any engine and any partitioning. The
    // series is calendar-bounded (≤31 rows), so the B×n draw table
    // (20×31) is trivially small — the PATTERN is what scales: the
    // expensive statistic being resampled would be an aggregate
    // whose per-resample recompute stays keyed. Reports the
    // resample-median spread as p10/p50/p90 (percentile_disc over
    // the 20 medians, discrete so integer-exact).
    QDef("q_bootstrap_ci_median", Some("""
      WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) // 86400000000
                       AS dnum, CAST(count(*) AS BIGINT) AS y
                     FROM events GROUP BY 1),
      idx AS (SELECT y, row_number() OVER (ORDER BY dnum) AS i FROM daily),
      nn AS (SELECT count(*) AS n FROM idx),
      draws AS (SELECT b.b, g.i,
                  1 + CAST(('0x' || substr(md5('bs|' || b.b || '|' || g.i),
                    1, 8)) AS BIGINT) % nn.n AS pick
                FROM (SELECT unnest(range(1, 21)) AS b) b
                CROSS JOIN (SELECT i FROM idx) g, nn),
      res AS (SELECT d.b,
                CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x.y)
                  AS BIGINT) AS med
              FROM draws d JOIN idx x ON x.i = d.pick GROUP BY d.b)
      SELECT CAST(max(nn.n) AS BIGINT) AS n_days,
             CAST(count(*) AS BIGINT) AS n_resamples,
             CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY med) AS BIGINT)
               AS ci_lo,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY med) AS BIGINT)
               AS ci_med,
             CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY med) AS BIGINT)
               AS ci_hi
      FROM res, nn"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val idx = t(s, d, "events")
          .groupBy(expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
            .as("dnum"))
          .agg(count(lit(1)).as("y"))
          .withColumn("i", row_number().over(Window.orderBy("dnum")).cast("long"))
          .select("i", "y")
        val nn = idx.agg(count(lit(1)).as("n"))
        val draws = s.range(1, 21).toDF("b")
          .crossJoin(idx.select("i"))
          .crossJoin(broadcast(nn))
          .select(col("b"),
            (lit(1) + conv(substring(md5(concat(lit("bs|"),
              col("b").cast("string"), lit("|"), col("i").cast("string"))),
              1, 8), 16, 10).cast("long") % col("n")).as("pick"))
        val res = draws
          .join(idx.select(col("i").as("pick"), col("y")), Seq("pick"))
          .groupBy("b")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)")
            .cast("long").as("med"))
        res.crossJoin(broadcast(nn))
          .agg(max("n").cast("long").as("n_days"),
            count(lit(1)).as("n_resamples"),
            expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY med)")
              .cast("long").as("ci_lo"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY med)")
              .cast("long").as("ci_med"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY med)")
              .cast("long").as("ci_hi"))
      }),

    // LOCAL-DP frequency estimation (randomized response) with a
    // DETERMINISTIC coin: each event reports its true type unless
    // its md5-bit says flip (p=1/4), in which case it reports a
    // hash-uniform type — then the collector debiases with the
    // standard unbiased estimator est = (obs − p·n/k)/(1−p). The
    // hash coin makes the whole privacy channel reproducible
    // (test/audit mode of an LDP pipeline — production would use
    // real randomness; the PLUMBING — report, collect, debias — is
    // identical). Everything is one projection + one 5-row
    // aggregate; the estimator is a floored shared double (it can
    // go negative on rare types). Error column shows the debias
    // quality vs the true counts.
    QDef("q_ldp_counts", Some("""
      WITH types AS (SELECT ['click','error','purchase','signup','view']
                       AS tarr),
      rep AS (SELECT CASE
                WHEN CAST(('0x' || substr(md5('flip|' || event_id), 1, 4))
                     AS INTEGER) % 4 = 0
                THEN tarr[1 + CAST(('0x' || substr(md5('pick|' || event_id),
                            1, 4)) AS INTEGER) % 5]
                ELSE event_type END AS rt,
              event_type AS tt
            FROM events, types),
      obs AS (SELECT rt AS event_type, CAST(count(*) AS BIGINT) AS reported
              FROM rep GROUP BY 1),
      tru AS (SELECT tt AS event_type, CAST(count(*) AS BIGINT) AS true_n
              FROM rep GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rep)
      SELECT o.event_type, t.true_n, o.reported,
             CAST(floor((o.reported - n / 20.0) * 4.0 / 3.0) AS BIGINT)
               AS est_n,
             CAST(floor(1000000.0 *
               (CAST(floor((o.reported - n / 20.0) * 4.0 / 3.0) AS BIGINT)
                - t.true_n) / t.true_n) AS BIGINT) AS err_ppm
      FROM obs o JOIN tru t USING (event_type), nn
      ORDER BY event_type"""),
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val rep = t(s, d, "events")
          .select(col("event_type").as("tt"),
            when(conv(substring(md5(concat(lit("flip|"),
              col("event_id").cast("string"))), 1, 4), 16, 10)
              .cast("int") % 4 === 0,
              element_at(
                array(types.map(lit): _*),
                (conv(substring(md5(concat(lit("pick|"),
                  col("event_id").cast("string"))), 1, 4), 16, 10)
                  .cast("int") % 5 + 1).cast("int")))
              .otherwise(col("event_type")).as("rt"))
        val obs = rep.groupBy(col("rt").as("event_type"))
          .agg(count(lit(1)).as("reported"))
        val tru = rep.groupBy(col("tt").as("tet"))
          .agg(count(lit(1)).as("true_n"))
        val nn = rep.agg(count(lit(1)).as("n"))
        obs.join(tru, col("event_type") === col("tet")).crossJoin(broadcast(nn))
          .withColumn("est_n",
            floor((col("reported") - col("n") / lit(20.0)) * lit(4.0) / lit(3.0))
              .cast("long"))
          .select(col("event_type"), col("true_n"), col("reported"), col("est_n"),
            floor(lit(1000000.0) * (col("est_n") - col("true_n")) /
              col("true_n")).cast("long").as("err_ppm"))
          .orderBy("event_type")
      }),

    // TOTAL-VARIATION drift between the first and second half-month
    // event-type mixes — the bounded [0,1] drift metric that needs
    // no logs (unlike KL) and no support alignment care (unlike
    // PSI): TV = ½·Σ|p₁−p₂|, here as the exact integer ppm
    // cross-multiplication Σ|c₁·n₂ − c₂·n₁|·1e6 // (2·n₁·n₂).
    // Per-type |share delta| rows ship alongside the scalar so the
    // drift is attributable. One 2×k-cell aggregate, 1-row
    // arithmetic; components stay under BIGINT while n₁·n₂ < 4e12
    // (per-period counts to ~2e6 — shard periods beyond that).
    QDef("q_tv_drift", Some("""
      WITH d0 AS (SELECT min(epoch_us(date_trunc('day', ts)) // 86400000000)
                    AS m FROM events),
      e AS (SELECT event_type,
              CASE WHEN epoch_us(date_trunc('day', ts)) // 86400000000 - d0.m
                   < 15 THEN 0 ELSE 1 END AS period
            FROM events, d0),
      c AS (SELECT event_type,
              CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
              CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
            FROM e GROUP BY 1),
      nn AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c)
      SELECT c.event_type, c.c1, c.c2,
             CAST((1000000 * c.c1) // nn.n1 AS BIGINT) AS share1_ppm,
             CAST((1000000 * c.c2) // nn.n2 AS BIGINT) AS share2_ppm,
             CAST((1000000 * abs(c.c1 * nn.n2 - c.c2 * nn.n1)) //
                  (nn.n1 * nn.n2) AS BIGINT) AS abs_delta_ppm,
             CAST(sum((1000000 * abs(c.c1 * nn.n2 - c.c2 * nn.n1)) //
                  (nn.n1 * nn.n2)) OVER () // 2 AS BIGINT) AS tv_ppm
      FROM c, nn ORDER BY event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val ev = t(s, d, "events")
        val d0 = ev.agg(min(dn).as("m"))
        val c = ev.select(col("event_type"), dn.as("dnum"))
          .crossJoin(broadcast(d0))
          .select(col("event_type"),
            when(col("dnum") - col("m") < 15, 0).otherwise(1).as("period"))
          .groupBy("event_type")
          .agg(sum(when(col("period") === 0, 1L).otherwise(0L)).cast("long")
            .as("c1"),
            sum(when(col("period") === 1, 1L).otherwise(0L)).cast("long")
              .as("c2"))
        val nn = c.agg(sum("c1").cast("long").as("n1"),
          sum("c2").cast("long").as("n2"))
        c.crossJoin(broadcast(nn))
          .withColumn("abs_delta_ppm",
            expr("div(1000000 * abs(c1 * n2 - c2 * n1), n1 * n2)").cast("long"))
          .select(col("event_type"), col("c1"), col("c2"),
            expr("div(1000000 * c1, n1)").cast("long").as("share1_ppm"),
            expr("div(1000000 * c2, n2)").cast("long").as("share2_ppm"),
            col("abs_delta_ppm"))
          .withColumn("tv_ppm",
            expr("div(sum(abs_delta_ppm) OVER (), 2)").cast("long"))
          .orderBy("event_type")
      }),

    // SPEARMAN rank correlation between the daily click and purchase
    // series — the monotone-association complement to q_moving_corr's
    // Pearson: rank both series (dense day grid, ties broken by the
    // day number so ranks are a permutation and the classic
    // ρ = 1 − 6Σd²/(n(n²−1)) closed form applies EXACTLY in integer
    // ppm). The ranked pass runs over the calendar-bounded day table;
    // everything else is one scalar row.
    QDef("q_spearman_daily", Some("""
      WITH cd AS (SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
              CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
              CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                AS y
            FROM events GROUP BY 1),
      r AS (SELECT d,
              row_number() OVER (ORDER BY x, d) AS rx,
              row_number() OVER (ORDER BY y, d) AS ry
            FROM cd),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sd2
            FROM r)
      SELECT n, sd2,
             CAST(1000000 - (6000000 * sd2) // (n * (n * n - 1)) AS BIGINT)
               AS spearman_ppm
      FROM m"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cd = t(s, d, "events")
          .groupBy(expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
            .as("d"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .cast("long").as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .cast("long").as("y"))
        cd
          .withColumn("rx",
            row_number().over(Window.orderBy(col("x"), col("d"))).cast("long"))
          .withColumn("ry",
            row_number().over(Window.orderBy(col("y"), col("d"))).cast("long"))
          .agg(count(lit(1)).as("n"),
            sum((col("rx") - col("ry")) * (col("rx") - col("ry")))
              .cast("long").as("sd2"))
          .select(col("n"), col("sd2"),
            (lit(1000000L) - expr("div(6000000 * sd2, n * (n * n - 1))"))
              .cast("long").as("spearman_ppm"))
      }),

    // One-way ANOVA F-statistic: does mean value differ across event
    // types? Values quantized to integer DOLLARS (cents-squared
    // group sums would pass 1e19 at sf0.1 — dollars keep every s²
    // term in BIGINT to ~1e12 rows); each group's s²/n term is
    // FLOORED to an integer before the k-row sum, so no float
    // accumulation whose ordering could differ between engines
    // touches the statistic (error ≤ k dollars², deterministic).
    // The parametric sibling of q_chi2_independence (counts) and
    // q_mann_whitney (two-sample ranks), completing the
    // hypothesis-test family; one map-side-combined k-cell
    // aggregate, then k-row arithmetic. f_milli floors the shared
    // IEEE ratio of exact integers.
    QDef("q_anova_oneway", Some("""
      WITH g AS (SELECT event_type,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS s,
              CAST(sum(CAST(floor(value + 0.5) AS BIGINT) *
                       CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS ss
            FROM events GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                CAST(sum(s) AS BIGINT) AS ts2,
                CAST(sum(ss) AS BIGINT) AS tss,
                CAST(count(*) AS BIGINT) AS k,
                CAST(sum((s * s) // n) AS BIGINT) AS sq
              FROM g)
      SELECT nn AS n_total, k AS k_groups,
             CAST(sq - (ts2 * ts2) // nn AS BIGINT) AS ssb_int,
             CAST(tss - sq AS BIGINT) AS ssw_int,
             CAST(k - 1 AS BIGINT) AS df_between,
             CAST(nn - k AS BIGINT) AS df_within,
             CAST(floor(1000.0 * ((sq - (ts2 * ts2) // nn) * (nn - k)) /
                        (1.0 * (tss - sq) * (k - 1))) AS BIGINT) AS f_milli
      FROM tot"""),
      (s, d) => {
        val dollars = floor(col("value") + lit(0.5)).cast("long")
        val g = t(s, d, "events")
          .select(col("event_type"), dollars.as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("c").cast("long").as("sc"),
            sum(col("c") * col("c")).cast("long").as("ss"))
        g.agg(sum("n").cast("long").as("nn"),
          sum("sc").cast("long").as("ts2"), sum("ss").cast("long").as("tss"),
          count(lit(1)).as("k"),
          sum(expr("div(sc * sc, n)")).cast("long").as("sq"))
          .select(col("nn").as("n_total"), col("k").as("k_groups"),
            (col("sq") - expr("div(ts2 * ts2, nn)")).cast("long").as("ssb_int"),
            (col("tss") - col("sq")).cast("long").as("ssw_int"),
            (col("k") - 1).cast("long").as("df_between"),
            (col("nn") - col("k")).cast("long").as("df_within"),
            floor(lit(1000.0) *
              ((col("sq") - expr("div(ts2 * ts2, nn)")) * (col("nn") - col("k"))) /
              (lit(1.0) * (col("tss") - col("sq")) * (col("k") - 1)))
              .cast("long").as("f_milli"))
      }),

    // SIMPSON'S-PARADOX AUDIT — does the price→quantity slope flip
    // sign when you stratify by supplier nation? The aggregated
    // regression (pooled (nation, part) points) rides next to each
    // stratum's own slope with a per-stratum FLIP flag; any flip=1
    // row is the classic aggregation trap a metrics review must
    // catch before trusting the pooled number. Slopes come from the
    // q_price_elasticity exact-moment machinery (integer sums,
    // floored shared-double ratio); the overall moments re-aggregate
    // the stratum moment table (k rows) and broadcast back.
    QDef("q_simpson_audit", Some("""
      WITH pp AS (SELECT n.n_nationkey AS nk, p.p_partkey,
              CAST(floor(p.p_retailprice * 100.0 + 0.5) AS BIGINT) AS x,
              CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS y
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            GROUP BY 1, 2, 3),
      ms AS (SELECT nk, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
             FROM pp GROUP BY 1),
      ma AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
               CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxy) AS BIGINT) AS sxy,
               CAST(sum(sxx) AS BIGINT) AS sxx
             FROM ms),
      sl AS (SELECT nk, n,
               CASE WHEN 1.0 * n * sxx - 1.0 * sx * sx = 0 THEN 0
                 ELSE floor(1000000.0 * (1.0 * n * sxy - 1.0 * sx * sy) /
                            (1.0 * n * sxx - 1.0 * sx * sx)) END AS slope_micro
             FROM ms),
      oa AS (SELECT CASE WHEN 1.0 * n * sxx - 1.0 * sx * sx = 0 THEN 0
               ELSE floor(1000000.0 * (1.0 * n * sxy - 1.0 * sx * sy) /
                          (1.0 * n * sxx - 1.0 * sx * sx)) END AS overall_micro
             FROM ma)
      SELECT CAST(nk AS BIGINT) AS nationkey, CAST(n AS BIGINT) AS n_points,
             CAST(slope_micro AS BIGINT) AS slope_micro,
             CAST(overall_micro AS BIGINT) AS overall_micro,
             CASE WHEN sign(slope_micro) <> 0
                   AND sign(overall_micro) <> 0
                   AND sign(slope_micro) <> sign(overall_micro)
                  THEN 1 ELSE 0 END AS flip
      FROM sl, oa ORDER BY nationkey"""),
      (s, d) => {
        val pp = t(s, d, "lineitem")
          .select("l_partkey", "l_suppkey", "l_quantity")
          .join(broadcast(t(s, d, "part")
            .select(col("p_partkey"),
              floor(col("p_retailprice") * lit(100.0) + lit(0.5)).cast("long")
                .as("x"))), col("l_partkey") === col("p_partkey"))
          .join(broadcast(t(s, d, "supplier").select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey").as("nk"), col("l_partkey"), col("x"))
          .agg(sum(col("l_quantity").cast("long")).cast("long").as("y"))
        val ms = pp.groupBy("nk")
          .agg(count(lit(1)).as("n"), sum("x").cast("long").as("sx"),
            sum("y").cast("long").as("sy"),
            sum(col("x") * col("y")).cast("long").as("sxy"),
            sum(col("x") * col("x")).cast("long").as("sxx"))
        // moment products go through DOUBLE: pooled n·Σx² passes 1e19
        // at sf0.01 (BIGINT overflow); each single multiplication is
        // exactly rounded, so both engines floor the SAME value
        def slope(n: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
                  sy: org.apache.spark.sql.Column, sxy: org.apache.spark.sql.Column,
                  sxx: org.apache.spark.sql.Column) =
          when(lit(1.0) * n * sxx - lit(1.0) * sx * sx === 0, 0L)
            .otherwise(floor(lit(1000000.0) *
              (lit(1.0) * n * sxy - lit(1.0) * sx * sy) /
              (lit(1.0) * n * sxx - lit(1.0) * sx * sx)))
        val ma = ms.agg(sum("n").cast("long").as("n"),
          sum("sx").cast("long").as("sx"), sum("sy").cast("long").as("sy"),
          sum("sxy").cast("long").as("sxy"), sum("sxx").cast("long").as("sxx"))
          .select(slope(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"))
            .cast("long").as("overall_micro"))
        ms.crossJoin(broadcast(ma))
          .select(col("nk").cast("long").as("nationkey"),
            col("n").cast("long").as("n_points"),
            slope(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"))
              .cast("long").as("slope_micro"),
            col("overall_micro"))
          .withColumn("flip",
            when(signum(col("slope_micro")) =!= 0 &&
                 signum(col("overall_micro")) =!= 0 &&
                 signum(col("slope_micro")) =!= signum(col("overall_micro")), 1L)
              .otherwise(0L))
          .orderBy("nationkey")
      }),

    // KENDALL τ-a monotone-trend test per event type over the daily
    // series — the pair-counting sibling of q_spearman_daily
    // (Spearman squares rank gaps; Kendall counts concordances, so
    // it is robust to single outlier days): C − D over all day
    // pairs, τ·1e6 = 1e6·(C−D) // pairs with the sign kept exact
    // (C−D integer, pairs positive). The pair stage is the
    // calendar-bounded self-join q_theil_sen established (435
    // pairs/month/type) — fixed-size at any SF.
    QDef("q_kendall_tau", Some("""
      WITH daily AS (SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
      pr AS (SELECT a.event_type,
               CASE WHEN b.y > a.y THEN 1 ELSE 0 END AS conc,
               CASE WHEN b.y < a.y THEN 1 ELSE 0 END AS disc
             FROM daily a JOIN daily b
               ON a.event_type = b.event_type AND b.dnum > a.dnum)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(conc) AS BIGINT) AS concordant,
             CAST(sum(disc) AS BIGINT) AS discordant,
             CAST(CASE WHEN sum(conc) >= sum(disc)
                  THEN (1000000 * (sum(conc) - sum(disc))) // count(*)
                  ELSE -((1000000 * (sum(disc) - sum(conc))) // count(*))
                  END AS BIGINT) AS tau_ppm
      FROM pr GROUP BY 1 ORDER BY event_type"""),
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
        val a = daily.select(col("event_type"), col("dnum").as("d1"),
          col("y").as("y1"))
        val b = daily.select(col("event_type").as("et2"), col("dnum").as("d2"),
          col("y").as("y2"))
        a.join(b, col("event_type") === col("et2") && col("d2") > col("d1"))
          .select(col("event_type"),
            when(col("y2") > col("y1"), 1L).otherwise(0L).as("conc"),
            when(col("y2") < col("y1"), 1L).otherwise(0L).as("disc"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_pairs"),
            sum("conc").cast("long").as("concordant"),
            sum("disc").cast("long").as("discordant"))
          .withColumn("tau_ppm",
            when(col("concordant") >= col("discordant"),
              expr("div(1000000 * (concordant - discordant), n_pairs)"))
              .otherwise(-expr("div(1000000 * (discordant - concordant), n_pairs)"))
              .cast("long"))
          .orderBy("event_type")
      }),

    // WALD–WOLFOWITZ RUNS TEST for randomness of the daily up/down
    // moves per event type: count sign runs in the differenced
    // series (zeros dropped), compare against the exact expected
    // run count 1 + 2·n₊·n₋/n under exchangeability, z floored from
    // the shared-double variance formula. A low |z| says the daily
    // deltas look exchangeable; a big negative z says trends
    // (fewer, longer runs). Differencing is one lag window per
    // type; runs counting is a second lag over the sign stream —
    // both calendar-bounded.
    QDef("q_runs_test", Some("""
      WITH daily AS (SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
      df AS (SELECT event_type, dnum,
               y - lag(y) OVER (PARTITION BY event_type ORDER BY dnum) AS dy
             FROM daily),
      sg AS (SELECT event_type, dnum,
               CASE WHEN dy > 0 THEN 1 ELSE -1 END AS sgn
             FROM df WHERE dy IS NOT NULL AND dy <> 0),
      rn AS (SELECT event_type, sgn,
               lag(sgn) OVER (PARTITION BY event_type ORDER BY dnum) AS prev
             FROM sg),
      agg AS (SELECT event_type,
                CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
                CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nm,
                CAST(sum(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END)
                  AS BIGINT) AS runs
              FROM rn GROUP BY 1)
      SELECT event_type, np AS n_up, nm AS n_down, runs,
             CAST(1000 + (2000 * np * nm) // (np + nm) AS BIGINT)
               AS expected_runs_milli,
             CAST(CASE WHEN np = 0 OR nm = 0 THEN 0
               ELSE floor(1000.0 * (runs - (1.0 + 2.0 * np * nm / (np + nm))) /
                 sqrt(2.0 * np * nm * (2.0 * np * nm - np - nm) /
                      ((np + nm) * (np + nm) * (np + nm - 1.0))))
               END AS BIGINT) AS z_milli
      FROM agg ORDER BY event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("dnum")
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
        val sg = daily
          .withColumn("dy", col("y") - lag("y", 1).over(w))
          .filter(col("dy").isNotNull && col("dy") =!= 0)
          .select(col("event_type"), col("dnum"),
            when(col("dy") > 0, 1L).otherwise(-1L).as("sgn"))
        sg.withColumn("prev", lag("sgn", 1).over(w))
          .groupBy("event_type")
          .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).cast("long").as("np"),
            sum(when(col("sgn") === -1, 1L).otherwise(0L)).cast("long").as("nm"),
            sum(when(col("prev").isNull || col("sgn") =!= col("prev"), 1L)
              .otherwise(0L)).cast("long").as("runs"))
          .select(col("event_type"), col("np").as("n_up"), col("nm").as("n_down"),
            col("runs"),
            (lit(1000L) + expr("div(2000 * np * nm, np + nm)")).cast("long")
              .as("expected_runs_milli"),
            when(col("np") === 0 || col("nm") === 0, 0L)
              .otherwise(floor(lit(1000.0) *
                (col("runs") - (lit(1.0) + lit(2.0) * col("np") * col("nm") /
                  (col("np") + col("nm")))) /
                sqrt(lit(2.0) * col("np") * col("nm") *
                  (lit(2.0) * col("np") * col("nm") - col("np") - col("nm")) /
                  ((col("np") + col("nm")) * (col("np") + col("nm")) *
                    (col("np") + col("nm") - lit(1.0))))))
              .cast("long").as("z_milli"))
          .orderBy("event_type")
      }),

    // DURBIN–WATSON autocorrelation diagnostic per event type on the
    // mean-centered daily series, held EXACT end to end: residuals
    // are pre-scaled to e'ₜ = n·yₜ − Σy (integers — no rational
    // mean ever materializes), and DW = Σ(e'ₜ−e'ₜ₋₁)² / Σe'ₜ²
    // is scale-invariant so the pre-scaling cancels. DW≈2 means no
    // lag-1 autocorrelation; <2 positive; >2 negative — the quick
    // screen before trusting q_trend_slope's OLS standard errors.
    // One broadcast (n, Σy) scalar per type, one lag window.
    QDef("q_durbin_watson", Some("""
      WITH daily AS (SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y) AS BIGINT) AS sy
            FROM daily GROUP BY 1),
      e AS (SELECT d.event_type, d.dnum, d.y * m.n - m.sy AS ep
            FROM daily d JOIN m ON m.event_type = d.event_type),
      l AS (SELECT event_type, ep,
              lag(ep) OVER (PARTITION BY event_type ORDER BY dnum) AS prev
            FROM e)
      SELECT event_type,
             CAST(sum(CASE WHEN prev IS NULL THEN 0
                      ELSE (ep - prev) * (ep - prev) END) AS BIGINT) AS num,
             CAST(sum(ep * ep) AS BIGINT) AS den,
             CAST((1000 * sum(CASE WHEN prev IS NULL THEN 0
                      ELSE (ep - prev) * (ep - prev) END)) // sum(ep * ep)
               AS BIGINT) AS dw_milli
      FROM l GROUP BY 1 ORDER BY event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
        val m = daily.groupBy(col("event_type").as("met"))
          .agg(count(lit(1)).as("n"), sum("y").cast("long").as("sy"))
        val w = Window.partitionBy("event_type").orderBy("dnum")
        daily.join(broadcast(m), col("event_type") === col("met"))
          .select(col("event_type"), col("dnum"),
            (col("y") * col("n") - col("sy")).as("ep"))
          .withColumn("prev", lag("ep", 1).over(w))
          .groupBy("event_type")
          .agg(sum(when(col("prev").isNull, 0L)
            .otherwise((col("ep") - col("prev")) * (col("ep") - col("prev"))))
            .cast("long").as("num"),
            sum(col("ep") * col("ep")).cast("long").as("den"))
          .select(col("event_type"), col("num"), col("den"),
            expr("div(1000 * num, den)").cast("long").as("dw_milli"))
          .orderBy("event_type")
      }),

    // INTERRUPTED TIME SERIES (segmented regression) per event type
    // — the single-series causal design that q_did_lift's two-cohort
    // version can't run when there is no control: fit y = a + b·t by
    // OLS on each side of the day-15 break (exact integer moments,
    // shared-double coefficient ratios), then report the LEVEL jump
    // at the break (post intercept+slope·15 minus the pre fit's
    // projection) and the SLOPE change. One daily aggregate + a
    // broadcast min-day scalar; the per-segment moments are 2×k
    // rows.
    QDef("q_its_segmented", Some("""
      WITH d0 AS (SELECT min(epoch_us(date_trunc('day', ts)) // 86400000000)
                    AS m FROM events),
      daily AS (SELECT event_type,
              epoch_us(date_trunc('day', ts)) // 86400000000 - d0.m AS rd,
              CAST(count(*) AS BIGINT) AS y
            FROM events, d0 GROUP BY event_type,
              epoch_us(date_trunc('day', ts)) // 86400000000 - d0.m),
      seg AS (SELECT event_type, CASE WHEN rd < 15 THEN 0 ELSE 1 END AS sgm,
                rd, y
              FROM daily),
      m AS (SELECT event_type, sgm, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(rd) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(rd * y) AS BIGINT) AS sty,
              CAST(sum(rd * rd) AS BIGINT) AS stt
            FROM seg GROUP BY 1, 2),
      c AS (SELECT event_type, sgm, n,
              1.0 * (n * sty - st * sy) / (n * stt - st * st) AS b,
              (sy - 1.0 * (n * sty - st * sy) / (n * stt - st * st) * st) / n
                AS a
            FROM m),
      w AS (SELECT p.event_type,
              CAST(p.n AS BIGINT) AS n_pre, CAST(q.n AS BIGINT) AS n_post,
              CAST(floor(1000000.0 * p.b) AS BIGINT) AS slope_pre_micro,
              CAST(floor(1000000.0 * q.b) AS BIGINT) AS slope_post_micro,
              CAST(floor(1000000.0 * ((q.a + q.b * 15) - (p.a + p.b * 15)))
                AS BIGINT) AS level_change_micro
            FROM c p JOIN c q ON p.event_type = q.event_type
            WHERE p.sgm = 0 AND q.sgm = 1)
      SELECT * FROM w ORDER BY event_type"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val ev = t(s, d, "events")
        val d0 = ev.agg(min(dn).as("m"))
        val m = ev.select(col("event_type"), dn.as("dnum"))
          .crossJoin(broadcast(d0))
          .select(col("event_type"), (col("dnum") - col("m")).as("rd"))
          .groupBy("event_type", "rd").agg(count(lit(1)).as("y"))
          .select(col("event_type"),
            when(col("rd") < 15, 0).otherwise(1).as("sgm"), col("rd"), col("y"))
          .groupBy("event_type", "sgm")
          .agg(count(lit(1)).as("n"), sum("rd").cast("long").as("st"),
            sum("y").cast("long").as("sy"),
            sum(col("rd") * col("y")).cast("long").as("sty"),
            sum(col("rd") * col("rd")).cast("long").as("stt"))
        val b = lit(1.0) * (col("n") * col("sty") - col("st") * col("sy")) /
          (col("n") * col("stt") - col("st") * col("st"))
        val c = m.select(col("event_type"), col("sgm"), col("n"), b.as("b"),
          ((col("sy") - b * col("st")) / col("n")).as("a"))
        val p = c.filter(col("sgm") === 0)
          .select(col("event_type"), col("n").as("n_pre"), col("b").as("bp"),
            col("a").as("ap"))
        val q = c.filter(col("sgm") === 1)
          .select(col("event_type").as("et2"), col("n").as("n_post"),
            col("b").as("bq"), col("a").as("aq"))
        p.join(q, col("event_type") === col("et2"))
          .select(col("event_type"), col("n_pre").cast("long").as("n_pre"),
            col("n_post").cast("long").as("n_post"),
            floor(lit(1000000.0) * col("bp")).cast("long")
              .as("slope_pre_micro"),
            floor(lit(1000000.0) * col("bq")).cast("long")
              .as("slope_post_micro"),
            floor(lit(1000000.0) * ((col("aq") + col("bq") * 15) -
              (col("ap") + col("bp") * 15))).cast("long")
              .as("level_change_micro"))
          .orderBy("event_type")
      }),

    // COHEN'S d effect sizes vs the 'click' baseline — the post-hoc
    // companion q_anova_oneway needs before anyone acts on a
    // significant F: for each other event type, the standardized
    // mean difference of value-dollars against clicks, with the
    // pooled SD from exact integer moments (dollar quantization for
    // the same s² overflow headroom as the ANOVA). d_milli floors
    // the shared-double ratio; the exact moment columns ship
    // alongside. k-row arithmetic after one k-cell aggregate.
    QDef("q_effect_sizes", Some("""
      WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS s,
              CAST(sum(CAST(floor(value + 0.5) AS BIGINT) *
                       CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS ss
            FROM events GROUP BY 1),
      b AS (SELECT n AS nb, s AS sb, ss AS ssb FROM g
            WHERE event_type = 'click')
      SELECT g.event_type, g.n, b.nb AS n_click,
             CAST(floor(1000.0 *
               (1.0 * g.s / g.n - 1.0 * b.sb / b.nb) /
               sqrt(((1.0 * g.n * g.ss - 1.0 * g.s * g.s) / g.n +
                     (1.0 * b.nb * b.ssb - 1.0 * b.sb * b.sb) / b.nb) /
                    (g.n + b.nb - 2))) AS BIGINT) AS cohens_d_milli
      FROM g, b WHERE g.event_type <> 'click'
      ORDER BY g.event_type"""),
      (s, d) => {
        val dollars = floor(col("value") + lit(0.5)).cast("long")
        val g = t(s, d, "events")
          .select(col("event_type"), dollars.as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("c").cast("long").as("sc"),
            sum(col("c") * col("c")).cast("long").as("ss"))
        val b = g.filter(col("event_type") === "click")
          .select(col("n").as("nb"), col("sc").as("sb"), col("ss").as("ssb"))
        g.filter(col("event_type") =!= "click").crossJoin(broadcast(b))
          .select(col("event_type"), col("n"), col("nb").as("n_click"),
            floor(lit(1000.0) *
              (lit(1.0) * col("sc") / col("n") - lit(1.0) * col("sb") / col("nb")) /
              sqrt(((lit(1.0) * col("n") * col("ss") -
                lit(1.0) * col("sc") * col("sc")) / col("n") +
                (lit(1.0) * col("nb") * col("ssb") -
                  lit(1.0) * col("sb") * col("sb")) / col("nb")) /
                (col("n") + col("nb") - 2))).cast("long")
              .as("cohens_d_milli"))
          .orderBy("event_type")
      }),

    // A/B POWER: minimum detectable effect for the purchase-rate
    // metric at the current sample sizes — the pre-registration
    // arithmetic an experimentation platform runs before any test
    // ships: MDE = (z_{α/2}+z_β)·√(2·p(1−p)/n) with the standard
    // 1.96/0.84 constants (80% power, 5% two-sided), p the pooled
    // purchase share and n the per-arm event count under the
    // user-parity split. Everything from two integer counts; the
    // MDE floors one shared double. Also reports the n needed to
    // detect a 10% relative lift — the inverse question.
    QDef("q_ab_power_mde", Some("""
      WITH arms AS (SELECT user_id % 2 AS grp,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS pos
            FROM events GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                CAST(sum(pos) AS BIGINT) AS pp,
                CAST(min(n) AS BIGINT) AS n_arm
              FROM arms)
      SELECT nn AS n_total, n_arm, pp AS n_purchase,
             CAST((1000000 * pp) // nn AS BIGINT) AS p_ppm,
             CAST(floor(1000000.0 * 2.8 *
               sqrt(2.0 * (1.0 * pp / nn) * (1 - 1.0 * pp / nn) / n_arm))
               AS BIGINT) AS mde_ppm,
             CAST(ceil(2.0 * 2.8 * 2.8 * (1.0 * pp / nn) * (1 - 1.0 * pp / nn) /
               ((0.1 * (1.0 * pp / nn)) * (0.1 * (1.0 * pp / nn)))) AS BIGINT)
               AS n_per_arm_for_10pct
      FROM tot"""),
      (s, d) => {
        val arms = t(s, d, "events")
          .groupBy((col("user_id") % 2).as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .cast("long").as("pos"))
        val p = lit(1.0) * col("pp") / col("nn")
        arms.agg(sum("n").cast("long").as("nn"),
          sum("pos").cast("long").as("pp"), min("n").cast("long").as("n_arm"))
          .select(col("nn").as("n_total"), col("n_arm"),
            col("pp").as("n_purchase"),
            expr("div(1000000 * pp, nn)").cast("long").as("p_ppm"),
            floor(lit(1000000.0) * lit(2.8) *
              sqrt(lit(2.0) * p * (lit(1) - p) / col("n_arm"))).cast("long")
              .as("mde_ppm"),
            ceil(lit(2.0) * lit(2.8) * lit(2.8) * p * (lit(1) - p) /
              ((lit(0.1) * p) * (lit(0.1) * p))).cast("long")
              .as("n_per_arm_for_10pct"))
      }),

    // MASE-style forecast scorecard: the seasonal-naive model
    // (predict last week's same weekday) scored against the naive
    // baseline (predict yesterday) on mean absolute error — the
    // scale-free forecast-eval ratio that says whether weekly
    // seasonality actually helps. Both error sums are exact
    // integers over the lag-joined daily series (two lag windows on
    // one exchange); the ratio is exact ppm via cross-multiplied
    // counts (mase < 1e6 ⇒ seasonal wins). Feeds model selection
    // next to q_holt_linear/q_seasonal_decompose.
    QDef("q_mase_seasonal_naive", Some("""
      WITH daily AS (SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
      lg AS (SELECT event_type, y,
               lag(y, 1) OVER (PARTITION BY event_type ORDER BY dnum) AS y1,
               lag(y, 7) OVER (PARTITION BY event_type ORDER BY dnum) AS y7
             FROM daily),
      m AS (SELECT event_type,
              CAST(count(y1) AS BIGINT) AS n1,
              CAST(sum(abs(y - y1)) AS BIGINT) AS e1,
              CAST(count(y7) AS BIGINT) AS n7,
              CAST(sum(abs(y - y7)) AS BIGINT) AS e7
            FROM lg GROUP BY 1)
      SELECT event_type, n1, e1 AS naive_abs_err, n7, e7 AS seasonal_abs_err,
             CAST((1000000 * e7 * n1) // (e1 * n7) AS BIGINT) AS mase_ppm
      FROM m ORDER BY event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("dnum")
        t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
          .withColumn("y1", lag("y", 1).over(w))
          .withColumn("y7", lag("y", 7).over(w))
          .groupBy("event_type")
          .agg(count("y1").as("n1"),
            sum(abs(col("y") - col("y1"))).cast("long").as("e1"),
            count("y7").as("n7"),
            sum(abs(col("y") - col("y7"))).cast("long").as("e7"))
          .select(col("event_type"), col("n1"), col("e1").as("naive_abs_err"),
            col("n7"), col("e7").as("seasonal_abs_err"),
            expr("div(1000000 * e7 * n1, e1 * n7)").cast("long").as("mase_ppm"))
          .orderBy("event_type")
      }),

    // PEAK-WINDOW detection (maximum-sum subarray, Kadane) on the
    // mean-centered daily series — "which contiguous stretch of
    // days was hottest relative to trend" — expressed ENTIRELY in
    // windows, no sequential fold: with exact integer residuals
    // e'ₜ = n·yₜ − Σy (the q_durbin_watson pre-scaling), the best
    // window ending at t is prefixₜ − min(0, min prefix before t),
    // so one prefix-sum window + one running-min window + one
    // argmax pick solve it. Output: each type's peak end-day and
    // the peak sum in n-scaled units (divide by n for mean units).
    QDef("q_peak_window", Some("""
      WITH daily AS (SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y) AS BIGINT) AS sy FROM daily GROUP BY 1),
      e AS (SELECT d.event_type, d.dnum, d.y * m.n - m.sy AS ep, m.n
            FROM daily d JOIN m ON m.event_type = d.event_type),
      pf AS (SELECT event_type, dnum, n,
               sum(ep) OVER (PARTITION BY event_type ORDER BY dnum
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
             FROM e),
      sc AS (SELECT event_type, dnum, n, pfx,
               pfx - least(CAST(0 AS BIGINT),
                 coalesce(min(pfx) OVER (PARTITION BY event_type ORDER BY dnum
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS BIGINT))) AS score
             FROM pf)
      SELECT event_type, CAST(dnum AS BIGINT) AS end_dnum,
             CAST(score AS BIGINT) AS peak_scaled, CAST(n AS BIGINT) AS n_days
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY score DESC, dnum) AS rn FROM sc)
      WHERE rn = 1 ORDER BY event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
        val m = daily.groupBy(col("event_type").as("met"))
          .agg(count(lit(1)).as("n"), sum("y").cast("long").as("sy"))
        val wOrd = Window.partitionBy("event_type").orderBy("dnum")
        daily.join(broadcast(m), col("event_type") === col("met"))
          .select(col("event_type"), col("dnum"), col("n"),
            (col("y") * col("n") - col("sy")).as("ep"))
          .withColumn("pfx", sum("ep").over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("score", col("pfx") -
            least(lit(0L), coalesce(min("pfx").over(
              wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
          .withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy(col("score").desc,
              col("dnum"))))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("dnum").cast("long").as("end_dnum"),
            col("score").cast("long").as("peak_scaled"),
            col("n").cast("long").as("n_days"))
          .orderBy("event_type")
      }),

    // RESURRECTION rate per day — the growth-accounting bucket
    // q_new_vs_returning can't split out: a user counts as
    // RESURRECTED when active today after ≥7 silent days (lag over
    // the deduped (user, day) grid), vs merely RETURNING (gap 2-6)
    // vs RETAINED (consecutive). Day-grain state only; one lag
    // window on the user partitioning, one day-grain rollup —
    // insensitive to raw event volume past the dedup.
    QDef("q_resurrection_daily", Some("""
      WITH days AS (SELECT DISTINCT user_id,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum
             FROM events),
      g AS (SELECT user_id, dnum,
              dnum - lag(dnum) OVER (PARTITION BY user_id ORDER BY dnum) AS gap
            FROM days)
      SELECT dnum,
             CAST(sum(CASE WHEN gap = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS retained,
             CAST(sum(CASE WHEN gap BETWEEN 2 AND 6 THEN 1 ELSE 0 END)
               AS BIGINT) AS returning,
             CAST(sum(CASE WHEN gap >= 7 THEN 1 ELSE 0 END) AS BIGINT)
               AS resurrected,
             CAST(sum(CASE WHEN gap IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS first_seen
      FROM g GROUP BY 1 ORDER BY dnum"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val days = t(s, d, "events")
          .select(col("user_id"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .distinct()
        days
          .withColumn("gap", col("dnum") -
            lag("dnum", 1).over(Window.partitionBy("user_id").orderBy("dnum")))
          .groupBy("dnum")
          .agg(sum(when(col("gap") === 1, 1L).otherwise(0L)).cast("long")
            .as("retained"),
            sum(when(col("gap").between(2, 6), 1L).otherwise(0L)).cast("long")
              .as("returning"),
            sum(when(col("gap") >= 7, 1L).otherwise(0L)).cast("long")
              .as("resurrected"),
            sum(when(col("gap").isNull, 1L).otherwise(0L)).cast("long")
              .as("first_seen"))
          .orderBy("dnum")
      }),

    // ENGAGEMENT-QUARTILE MIGRATION matrix — where did each user's
    // activity band move between the two half-months? Quartile
    // assignment uses broadcast percentile-threshold scalars per
    // period (the q_curriculum_schedule discipline — never an ntile
    // over user grain), the matrix is a 4×4 count rollup of the
    // user-keyed join of both periods, with users absent from a
    // period in band 0. The churn-diagnosis companion to
    // q_stickiness_dau_wau.
    QDef("q_engagement_migration", Some("""
      WITH d0 AS (SELECT min(epoch_us(date_trunc('day', ts)) // 86400000000)
                    AS m FROM events),
      pc AS (SELECT user_id,
               CASE WHEN epoch_us(date_trunc('day', ts)) // 86400000000 - d0.m
                    < 15 THEN 0 ELSE 1 END AS period
             FROM events, d0),
      uc AS (SELECT user_id, period, CAST(count(*) AS BIGINT) AS n
             FROM pc GROUP BY 1, 2),
      q1 AS (SELECT
               percentile_disc(0.25) WITHIN GROUP (ORDER BY n) AS a,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS b,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY n) AS c
             FROM uc WHERE period = 0),
      q2 AS (SELECT
               percentile_disc(0.25) WITHIN GROUP (ORDER BY n) AS a,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS b,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY n) AS c
             FROM uc WHERE period = 1),
      b1 AS (SELECT user_id, 1 + CASE WHEN n > q1.a THEN 1 ELSE 0 END
                 + CASE WHEN n > q1.b THEN 1 ELSE 0 END
                 + CASE WHEN n > q1.c THEN 1 ELSE 0 END AS band
             FROM uc, q1 WHERE period = 0),
      b2 AS (SELECT user_id, 1 + CASE WHEN n > q2.a THEN 1 ELSE 0 END
                 + CASE WHEN n > q2.b THEN 1 ELSE 0 END
                 + CASE WHEN n > q2.c THEN 1 ELSE 0 END AS band
             FROM uc, q2 WHERE period = 1)
      SELECT CAST(coalesce(b1.band, 0) AS BIGINT) AS band_pre,
             CAST(coalesce(b2.band, 0) AS BIGINT) AS band_post,
             CAST(count(*) AS BIGINT) AS n_users
      FROM b1 FULL JOIN b2 USING (user_id)
      GROUP BY 1, 2 ORDER BY band_pre, band_post"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val ev = t(s, d, "events")
        val d0 = ev.agg(min(dn).as("m"))
        val uc = ev.select(col("user_id"), dn.as("dnum"))
          .crossJoin(broadcast(d0))
          .select(col("user_id"),
            when(col("dnum") - col("m") < 15, 0).otherwise(1).as("period"))
          .groupBy("user_id", "period").agg(count(lit(1)).as("n"))
        def bands(p: Int, idCol: String, bandCol: String) = {
          val qs = uc.filter(col("period") === p)
            .agg(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n)").as("a"),
              expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)").as("b"),
              expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n)").as("c"))
          uc.filter(col("period") === p).crossJoin(broadcast(qs))
            .select(col("user_id").as(idCol),
              (lit(1) + when(col("n") > col("a"), 1).otherwise(0)
                + when(col("n") > col("b"), 1).otherwise(0)
                + when(col("n") > col("c"), 1).otherwise(0)).as(bandCol))
        }
        bands(0, "u1", "band_pre_raw")
          .join(bands(1, "u2", "band_post_raw"),
            col("u1") === col("u2"), "full_outer")
          .select(coalesce(col("band_pre_raw"), lit(0)).cast("long")
            .as("band_pre"),
            coalesce(col("band_post_raw"), lit(0)).cast("long").as("band_post"))
          .groupBy("band_pre", "band_post")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("band_pre", "band_post")
      }),

    // SURVIVORSHIP-BIAS quantifier — how much does conditioning on
    // "still a customer next year" inflate the 1995 spend metric?
    // Mean 1995 order value over ALL 1995 customers vs over the
    // SURVIVORS (those who also ordered in 1996), with the bias in
    // ppm of the unconditional mean. The survivor set is a LEFT
    // SEMI join of customer-grain aggregates; means floor once from
    // exact cents sums. The one-row audit that belongs next to any
    // retention-conditioned metric.
    QDef("q_survivorship_bias", Some("""
      WITH o95 AS (SELECT o_custkey,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
            FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
      s96 AS (SELECT DISTINCT o_custkey FROM orders
              WHERE year(o_orderdate) = 1996),
      surv AS (SELECT o95.* FROM o95 SEMI JOIN s96 USING (o_custkey)),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_cust,
              CAST(sum(n) AS BIGINT) AS n_ord, CAST(sum(cents) AS BIGINT) AS c
            FROM o95),
      b AS (SELECT CAST(count(*) AS BIGINT) AS n_cust,
              CAST(sum(n) AS BIGINT) AS n_ord, CAST(sum(cents) AS BIGINT) AS c
            FROM surv)
      SELECT a.n_cust AS n_all, b.n_cust AS n_survivors,
             CAST(a.c // a.n_ord AS BIGINT) AS mean_all_cents,
             CAST(b.c // b.n_ord AS BIGINT) AS mean_surv_cents,
             CAST(floor(1000000.0 * (1.0 * b.c / b.n_ord - 1.0 * a.c / a.n_ord) /
                        (1.0 * a.c / a.n_ord)) AS BIGINT) AS bias_ppm
      FROM a, b"""),
      (s, d) => {
        val o95 = t(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1995)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long"))
              .cast("long").as("cents"))
        val s96 = t(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1996)
          .select(col("o_custkey").as("ck96")).distinct()
        val surv = o95.join(s96, col("o_custkey") === col("ck96"), "left_semi")
        def agg3(df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_cust"), sum("n").cast("long").as("n_ord"),
            sum("cents").cast("long").as("c"))
        val a = agg3(o95).select(col("n_cust").as("na"), col("n_ord").as("noa"),
          col("c").as("ca"))
        val b = agg3(surv).select(col("n_cust").as("nb"), col("n_ord").as("nob"),
          col("c").as("cb"))
        a.crossJoin(b)
          .select(col("na").as("n_all"), col("nb").as("n_survivors"),
            expr("div(ca, noa)").cast("long").as("mean_all_cents"),
            expr("div(cb, nob)").cast("long").as("mean_surv_cents"),
            floor(lit(1000000.0) *
              (lit(1.0) * col("cb") / col("nob") - lit(1.0) * col("ca") / col("noa")) /
              (lit(1.0) * col("ca") / col("noa"))).cast("long").as("bias_ppm"))
      }),

    // DELTA-METHOD CI for a RATIO metric (revenue per purchase) —
    // the experimentation-platform arithmetic for metrics that are
    // ratios of sums, where naive per-event variance is wrong
    // because users are the i.i.d. unit: per-user (x=purchase
    // dollars, y=purchase count) moment sums, R = Σx/Σy, and
    // Var(R) ≈ (σx² − 2Rσxy + R²σy²)/(n·ȳ²). All moments are exact
    // integers (dollar quantization keeps Σx² in BIGINT at any SF);
    // R/SE/CI floor shared doubles. One user-grain aggregate →
    // 1-row statistics.
    QDef("q_ratio_delta_ci", Some("""
      WITH u AS (SELECT user_id,
              CAST(sum(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS x,
              CAST(count(*) AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase' GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * x) AS BIGINT) AS sxx,
              CAST(sum(y * y) AS BIGINT) AS syy,
              CAST(sum(x * y) AS BIGINT) AS sxy
            FROM u),
      c AS (SELECT n, sx, sy,
              1.0 * sx / sy AS r,
              (1.0 * sxx / n - (1.0 * sx / n) * (1.0 * sx / n)) AS vx,
              (1.0 * syy / n - (1.0 * sy / n) * (1.0 * sy / n)) AS vy,
              (1.0 * sxy / n - (1.0 * sx / n) * (1.0 * sy / n)) AS cxy
            FROM m)
      SELECT n AS n_users, sx AS total_dollars, sy AS total_purchases,
             CAST(floor(1000.0 * r) AS BIGINT) AS r_milli,
             CAST(floor(1000.0 * sqrt((vx - 2 * r * cxy + r * r * vy) / n) /
                        (1.0 * sy / n)) AS BIGINT) AS se_milli,
             CAST(floor(1000.0 * r - 1.96 * (1000.0 *
               sqrt((vx - 2 * r * cxy + r * r * vy) / n) / (1.0 * sy / n)))
               AS BIGINT) AS ci_lo_milli,
             CAST(floor(1000.0 * r + 1.96 * (1000.0 *
               sqrt((vx - 2 * r * cxy + r * r * vy) / n) / (1.0 * sy / n)))
               AS BIGINT) AS ci_hi_milli
      FROM c"""),
      (s, d) => {
        val u = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(sum(floor(col("value") + lit(0.5)).cast("long")).cast("long")
            .as("x"), count(lit(1)).as("y"))
        val m = u.agg(count(lit(1)).as("n"), sum("x").cast("long").as("sx"),
          sum("y").cast("long").as("sy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("y") * col("y")).cast("long").as("syy"),
          sum(col("x") * col("y")).cast("long").as("sxy"))
        val r = lit(1.0) * col("sx") / col("sy")
        val vx = lit(1.0) * col("sxx") / col("n") -
          (lit(1.0) * col("sx") / col("n")) * (lit(1.0) * col("sx") / col("n"))
        val vy = lit(1.0) * col("syy") / col("n") -
          (lit(1.0) * col("sy") / col("n")) * (lit(1.0) * col("sy") / col("n"))
        val cxy = lit(1.0) * col("sxy") / col("n") -
          (lit(1.0) * col("sx") / col("n")) * (lit(1.0) * col("sy") / col("n"))
        val se = lit(1000.0) *
          sqrt((vx - lit(2) * r * cxy + r * r * vy) / col("n")) /
          (lit(1.0) * col("sy") / col("n"))
        m.select(col("n").as("n_users"), col("sx").as("total_dollars"),
          col("sy").as("total_purchases"),
          floor(lit(1000.0) * r).cast("long").as("r_milli"),
          floor(se).cast("long").as("se_milli"),
          floor(lit(1000.0) * r - lit(1.96) * se).cast("long").as("ci_lo_milli"),
          floor(lit(1000.0) * r + lit(1.96) * se).cast("long").as("ci_hi_milli"))
      }),

    // CAPACITY HEADROOM from the minute-grain arrival profile — the
    // sizing readout an ingestion autoscaler keys on: per event
    // type, the p50/p99/max minute rates and two ratios, burst
    // (p99/p50) and headroom past p99 (max vs p99). Discrete
    // percentiles over the DOMAIN-bounded minute-count table keep
    // everything integer; ratios are exact ppm. Pairs with
    // q_burstiness_fano (dispersion) and q_velocity_cap
    // (enforcement).
    QDef("q_capacity_headroom", Some("""
      WITH mc AS (SELECT event_type,
               epoch_us(date_trunc('minute', ts)) // 60000000 AS mnum,
               CAST(count(*) AS BIGINT) AS c
             FROM events GROUP BY 1, 2)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_minutes,
             CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
               AS p50,
             CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c) AS BIGINT)
               AS p99,
             CAST(max(c) AS BIGINT) AS peak,
             CAST((1000000 * percentile_disc(0.99) WITHIN GROUP (ORDER BY c)) //
                  percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
               AS burst_ppm,
             CAST((1000000 * max(c)) //
                  percentile_disc(0.99) WITHIN GROUP (ORDER BY c) AS BIGINT)
               AS peak_over_p99_ppm
      FROM mc GROUP BY 1 ORDER BY event_type"""),
      (s, d) =>
        t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('minute', ts)), 60000000)")
              .as("mnum"))
          .agg(count(lit(1)).as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_minutes"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
              .cast("long").as("p50"),
            expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
              .cast("long").as("p99"),
            max("c").cast("long").as("peak"))
          .select(col("event_type"), col("n_minutes"), col("p50"), col("p99"),
            col("peak"),
            expr("div(1000000 * p99, p50)").cast("long").as("burst_ppm"),
            expr("div(1000000 * peak, p99)").cast("long")
              .as("peak_over_p99_ppm"))
          .orderBy("event_type")),

    // INSTRUMENTAL-VARIABLE (Wald) estimator — the third leg of the
    // causal suite (q_did_lift, q_its_segmented): effect of click
    // exposure on purchase dollars using a binary instrument
    // (deterministic user-parity stand-in — production would use a
    // real encouragement): Wald = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) over user-grain
    // aggregates. The four cell sums are exact integers off one
    // user-grain pass; the ratio floors a shared double. The
    // first-stage strength (Δx̄ in milli) ships alongside — a weak
    // instrument makes the ratio explode, and the consumer must see
    // that.
    QDef("q_iv_wald", Some("""
      WITH u AS (SELECT user_id, user_id % 2 AS z,
              CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
              CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value + 0.5) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
      c AS (SELECT z, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
            FROM u GROUP BY 1),
      w AS (SELECT
              max(CASE WHEN z = 0 THEN n END) AS n0,
              max(CASE WHEN z = 1 THEN n END) AS n1,
              max(CASE WHEN z = 0 THEN sx END) AS sx0,
              max(CASE WHEN z = 1 THEN sx END) AS sx1,
              max(CASE WHEN z = 0 THEN sy END) AS sy0,
              max(CASE WHEN z = 1 THEN sy END) AS sy1
            FROM c)
      SELECT CAST(n0 AS BIGINT) AS n_z0, CAST(n1 AS BIGINT) AS n_z1,
             CAST(floor(1000.0 * (1.0 * sx1 / n1 - 1.0 * sx0 / n0)) AS BIGINT)
               AS first_stage_dx_milli,
             CAST(floor(1000.0 * (1.0 * sy1 / n1 - 1.0 * sy0 / n0)) AS BIGINT)
               AS reduced_form_dy_milli,
             CAST(floor(1000.0 * (1.0 * sy1 / n1 - 1.0 * sy0 / n0) /
                        (1.0 * sx1 / n1 - 1.0 * sx0 / n0)) AS BIGINT)
               AS wald_milli
      FROM w"""),
      (s, d) => {
        val u = t(s, d, "events")
          .groupBy(col("user_id"), (col("user_id") % 2).as("z"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .cast("long").as("x"),
            sum(when(col("event_type") === "purchase",
              floor(col("value") + lit(0.5)).cast("long")).otherwise(0L))
              .cast("long").as("y"))
        val c = u.groupBy("z")
          .agg(count(lit(1)).as("n"), sum("x").cast("long").as("sx"),
            sum("y").cast("long").as("sy"))
        def cell(z: Int, cname: String) =
          max(when(col("z") === z, col(cname)))
        val dx = lit(1.0) * cell(1, "sx") / cell(1, "n") -
          lit(1.0) * cell(0, "sx") / cell(0, "n")
        val dy = lit(1.0) * cell(1, "sy") / cell(1, "n") -
          lit(1.0) * cell(0, "sy") / cell(0, "n")
        c.agg(cell(0, "n").cast("long").as("n_z0"),
          cell(1, "n").cast("long").as("n_z1"),
          floor(lit(1000.0) * dx).cast("long").as("first_stage_dx_milli"),
          floor(lit(1000.0) * dy).cast("long").as("reduced_form_dy_milli"),
          floor(lit(1000.0) * dy / dx).cast("long").as("wald_milli"))
      }),

    // REGRESSION DISCONTINUITY at the MEDIAN retail price — the
    // fourth causal leg: compare mean units sold for parts JUST
    // below vs just above the cutoff within a ±2% bandwidth, where
    // the running variable is as-good-as-random locally. Cutoff and
    // bandwidth are broadcast scalars derived from the price
    // distribution (the price RANGE scales with the part count, so
    // a fixed threshold would empty the band at small SF). Cell
    // sums are exact integers off a part-grain aggregate; the jump
    // and its ppm-of-below ship with both cell means.
    QDef("q_rdd_jump", Some("""
      WITH pq AS (SELECT p.p_partkey,
              CAST(floor(p.p_retailprice * 100.0 + 0.5) AS BIGINT) AS price,
              CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2),
      cut AS (SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY price)
                  AS BIGINT) AS c0
              FROM pq),
      b AS (SELECT CASE WHEN price < cut.c0 THEN 0 ELSE 1 END AS side, qty
            FROM pq, cut
            WHERE price >= cut.c0 - cut.c0 // 50
              AND price < cut.c0 + cut.c0 // 50),
      c AS (SELECT side, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(qty) AS BIGINT) AS sq
            FROM b GROUP BY 1),
      w AS (SELECT max(CASE WHEN side = 0 THEN n END) AS nb,
              max(CASE WHEN side = 1 THEN n END) AS na,
              max(CASE WHEN side = 0 THEN sq END) AS sb,
              max(CASE WHEN side = 1 THEN sq END) AS sa
            FROM c)
      SELECT CAST(nb AS BIGINT) AS n_below, CAST(na AS BIGINT) AS n_above,
             CAST(sb // nb AS BIGINT) AS mean_below,
             CAST(sa // na AS BIGINT) AS mean_above,
             CAST(floor(1000.0 * (1.0 * sa / na - 1.0 * sb / nb)) AS BIGINT)
               AS jump_milli,
             CAST(floor(1000000.0 * (1.0 * sa / na - 1.0 * sb / nb) /
                        (1.0 * sb / nb)) AS BIGINT) AS jump_ppm_of_below
      FROM w"""),
      (s, d) => {
        val pq = t(s, d, "lineitem").select("l_partkey", "l_quantity")
          .join(broadcast(t(s, d, "part").select(col("p_partkey"),
            floor(col("p_retailprice") * lit(100.0) + lit(0.5)).cast("long")
              .as("price"))), col("l_partkey") === col("p_partkey"))
          .groupBy("p_partkey", "price")
          .agg(sum(col("l_quantity").cast("long")).cast("long").as("qty"))
        val cut = pq.agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY price)")
            .cast("long").as("c0"))
        val c = pq.crossJoin(broadcast(cut))
          .filter(col("price") >= col("c0") - expr("div(c0, 50)") &&
            col("price") < col("c0") + expr("div(c0, 50)"))
          .select(when(col("price") < col("c0"), 0).otherwise(1).as("side"),
            col("qty"))
          .groupBy("side")
          .agg(count(lit(1)).as("n"), sum("qty").cast("long").as("sq"))
        def cell(sd: Int, cname: String) = max(when(col("side") === sd, col(cname)))
        val mb = lit(1.0) * cell(0, "sq") / cell(0, "n")
        val ma = lit(1.0) * cell(1, "sq") / cell(1, "n")
        c.agg(cell(0, "n").cast("long").as("n_below"),
          cell(1, "n").cast("long").as("n_above"),
          expr("div(max(CASE WHEN side = 0 THEN sq END), max(CASE WHEN side = 0 THEN n END))")
            .cast("long").as("mean_below"),
          expr("div(max(CASE WHEN side = 1 THEN sq END), max(CASE WHEN side = 1 THEN n END))")
            .cast("long").as("mean_above"),
          floor(lit(1000.0) * (ma - mb)).cast("long").as("jump_milli"),
          floor(lit(1000000.0) * (ma - mb) / mb).cast("long")
            .as("jump_ppm_of_below"))
      }),

    // MATCHING ESTIMATOR (ATT) — the fifth causal leg: average
    // treatment effect on the treated via nearest-neighbor matching
    // on the activity covariate, with controls COLLAPSED per
    // covariate value first (coarsened-exact/NN hybrid): each
    // treated user matches the nearest covariate value present
    // among controls (tie → smaller value) and inherits that
    // value-cell's floored mean outcome. The value×value candidate
    // join is bounded by DISTINCT covariate levels squared — user
    // activity counts, not users — so the match stage is
    // histogram-sized at any SF. ATT in milli-dollars plus the
    // naive (unmatched) difference to show the selection-bias
    // correction.
    QDef("q_att_matching", Some("""
      WITH u AS (SELECT user_id, user_id % 2 AS treat,
              CAST(count(*) AS BIGINT) AS c,
              CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value + 0.5) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
      ctrl AS (SELECT c AS cv, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS sy
               FROM u WHERE treat = 0 GROUP BY 1),
      tv AS (SELECT DISTINCT c AS tvv FROM u WHERE treat = 1),
      best AS (SELECT tvv, cv, (sy // n) AS my FROM (
                 SELECT tv.tvv, ctrl.cv, ctrl.sy, ctrl.n,
                        row_number() OVER (PARTITION BY tv.tvv
                          ORDER BY abs(tv.tvv - ctrl.cv), ctrl.cv) AS rn
                 FROM tv CROSS JOIN ctrl)
               WHERE rn = 1),
      att AS (SELECT CAST(count(*) AS BIGINT) AS n_treated,
                CAST(sum(u.y) AS BIGINT) AS sy_t,
                CAST(sum(b.my) AS BIGINT) AS sy_m
              FROM u JOIN best b ON u.c = b.tvv WHERE u.treat = 1),
      naive AS (SELECT
                  CAST(sum(CASE WHEN treat = 1 THEN y ELSE 0 END) AS BIGINT)
                    AS syt,
                  CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS nt,
                  CAST(sum(CASE WHEN treat = 0 THEN y ELSE 0 END) AS BIGINT)
                    AS syc,
                  CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS nc
                FROM u)
      SELECT att.n_treated, att.sy_t, att.sy_m,
             CAST(floor(1000.0 * (att.sy_t - att.sy_m) / att.n_treated)
               AS BIGINT) AS att_milli,
             CAST(floor(1000.0 * (1.0 * naive.syt / naive.nt -
                                  1.0 * naive.syc / naive.nc)) AS BIGINT)
               AS naive_diff_milli
      FROM att, naive"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val u = t(s, d, "events")
          .groupBy(col("user_id"), (col("user_id") % 2).as("treat"))
          .agg(count(lit(1)).as("c"),
            sum(when(col("event_type") === "purchase",
              floor(col("value") + lit(0.5)).cast("long")).otherwise(0L))
              .cast("long").as("y"))
        val ctrl = u.filter(col("treat") === 0)
          .groupBy(col("c").as("cv"))
          .agg(count(lit(1)).as("n"), sum("y").cast("long").as("sy"))
        val tv = u.filter(col("treat") === 1).select(col("c").as("tvv")).distinct()
        val best = tv.crossJoin(broadcast(ctrl))
          .withColumn("rn", row_number().over(Window.partitionBy("tvv")
            .orderBy(abs(col("tvv") - col("cv")), col("cv"))))
          .filter(col("rn") === 1)
          .select(col("tvv"), expr("div(sy, n)").as("my"))
        val att = u.filter(col("treat") === 1)
          .join(broadcast(best), col("c") === col("tvv"))
          .agg(count(lit(1)).as("n_treated"), sum("y").cast("long").as("sy_t"),
            sum("my").cast("long").as("sy_m"))
        val naive = u.agg(
          sum(when(col("treat") === 1, col("y")).otherwise(0L)).cast("long")
            .as("syt"),
          sum(when(col("treat") === 1, 1L).otherwise(0L)).cast("long").as("nt"),
          sum(when(col("treat") === 0, col("y")).otherwise(0L)).cast("long")
            .as("syc"),
          sum(when(col("treat") === 0, 1L).otherwise(0L)).cast("long").as("nc"))
        att.crossJoin(broadcast(naive))
          .select(col("n_treated"), col("sy_t"), col("sy_m"),
            floor(lit(1000.0) * (col("sy_t") - col("sy_m")) / col("n_treated"))
              .cast("long").as("att_milli"),
            floor(lit(1000.0) * (lit(1.0) * col("syt") / col("nt") -
              lit(1.0) * col("syc") / col("nc"))).cast("long")
              .as("naive_diff_milli"))
      }),

    // QUANTILE TREATMENT EFFECTS — where in the distribution does
    // the arm difference live? Mean lifts (q_did_lift) hide
    // tail-only effects; QTE reports the p25/p50/p75/p90
    // purchase-value quantile per arm and the per-quantile deltas.
    // Discrete percentiles over integer cents are engine-exact; one
    // arm-keyed pass, 4×2 cells, long-form output.
    QDef("q_qte_arms", Some("""
      WITH v AS (SELECT user_id % 2 AS arm,
              CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'),
      qt AS (
        SELECT arm, 250 AS qp, CAST(percentile_disc(0.25)
          WITHIN GROUP (ORDER BY cents) AS BIGINT) AS v FROM v GROUP BY 1
        UNION ALL
        SELECT arm, 500, CAST(percentile_disc(0.5)
          WITHIN GROUP (ORDER BY cents) AS BIGINT) FROM v GROUP BY 1
        UNION ALL
        SELECT arm, 750, CAST(percentile_disc(0.75)
          WITHIN GROUP (ORDER BY cents) AS BIGINT) FROM v GROUP BY 1
        UNION ALL
        SELECT arm, 900, CAST(percentile_disc(0.9)
          WITHIN GROUP (ORDER BY cents) AS BIGINT) FROM v GROUP BY 1)
      SELECT a.qp AS q_permille, a.v AS ctrl_cents, b.v AS treat_cents,
             CAST(b.v - a.v AS BIGINT) AS qte_cents
      FROM qt a JOIN qt b ON a.qp = b.qp AND a.arm = 0 AND b.arm = 1
      ORDER BY q_permille"""),
      (s, d) => {
        val v = t(s, d, "events").filter(col("event_type") === "purchase")
          .select((col("user_id") % 2).as("arm"),
            floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        def qrow(p: Double, qp: Long) = v.groupBy("arm")
          .agg(expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY cents)")
            .cast("long").as("v"))
          .withColumn("qp", lit(qp))
        val qt = qrow(0.25, 250L).unionByName(qrow(0.5, 500L))
          .unionByName(qrow(0.75, 750L)).unionByName(qrow(0.9, 900L))
        val a = qt.filter(col("arm") === 0)
          .select(col("qp"), col("v").as("ctrl_cents"))
        val b = qt.filter(col("arm") === 1)
          .select(col("qp").as("qp2"), col("v").as("treat_cents"))
        a.join(b, col("qp") === col("qp2"))
          .select(col("qp").as("q_permille"), col("ctrl_cents"),
            col("treat_cents"),
            (col("treat_cents") - col("ctrl_cents")).cast("long")
              .as("qte_cents"))
          .orderBy("q_permille")
      }),

    // PLACEBO DiD — the robustness check every diff-in-diff readout
    // must ship with: rerun q_did_lift's cell arithmetic with a FAKE
    // break at day 8 INSIDE the pre-period (restricted to days
    // 0-14, so the real day-15 change can't leak in). A material
    // placebo effect falsifies the parallel-trends assumption. Both
    // the real and placebo DiD ship in one row; the spec pins that
    // the placebo stays near zero on this synthetic stream.
    QDef("q_did_placebo", Some("""
      WITH d0 AS (SELECT min(epoch_us(date_trunc('day', ts)) // 86400000000)
                    AS m FROM events),
      e AS (SELECT user_id % 2 AS grp,
              epoch_us(date_trunc('day', ts)) // 86400000000 - d0.m AS rd,
              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
            FROM events, d0),
      real AS (SELECT grp, CASE WHEN rd < 15 THEN 0 ELSE 1 END AS period,
                 (1000000 * sum(conv)) // count(*) AS r
               FROM e GROUP BY 1, 2),
      plac AS (SELECT grp, CASE WHEN rd < 8 THEN 0 ELSE 1 END AS period,
                 (1000000 * sum(conv)) // count(*) AS r
               FROM e WHERE rd < 15 GROUP BY 1, 2),
      rw AS (SELECT
               (max(CASE WHEN grp = 1 AND period = 1 THEN r END) -
                max(CASE WHEN grp = 1 AND period = 0 THEN r END)) -
               (max(CASE WHEN grp = 0 AND period = 1 THEN r END) -
                max(CASE WHEN grp = 0 AND period = 0 THEN r END)) AS did
             FROM real),
      pw AS (SELECT
               (max(CASE WHEN grp = 1 AND period = 1 THEN r END) -
                max(CASE WHEN grp = 1 AND period = 0 THEN r END)) -
               (max(CASE WHEN grp = 0 AND period = 1 THEN r END) -
                max(CASE WHEN grp = 0 AND period = 0 THEN r END)) AS did
             FROM plac)
      SELECT CAST(rw.did AS BIGINT) AS did_ppm,
             CAST(pw.did AS BIGINT) AS placebo_did_ppm,
             CASE WHEN abs(pw.did) * 2 > abs(rw.did) AND abs(rw.did) > 0
                  THEN 1 ELSE 0 END AS trends_suspect
      FROM rw, pw"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val ev = t(s, d, "events")
        val d0 = ev.agg(min(dn).as("m"))
        val e = ev.select((col("user_id") % 2).as("grp"), dn.as("dnum"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
          .crossJoin(broadcast(d0))
          .select(col("grp"), (col("dnum") - col("m")).as("rd"), col("conv"))
        def did(df: org.apache.spark.sql.DataFrame, break0: Int) = {
          val r = df
            .select(col("grp"),
              when(col("rd") < break0, 0).otherwise(1).as("period"), col("conv"))
            .groupBy("grp", "period")
            .agg(expr("div(1000000 * sum(conv), count(1))").as("r"))
          def cell(g: Int, p: Int) =
            max(when(col("grp") === g && col("period") === p, col("r")))
          r.agg(((cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0)))
            .cast("long").as("did"))
        }
        did(e, 15).select(col("did").as("did_ppm"))
          .crossJoin(did(e.filter(col("rd") < 15), 8)
            .select(col("did").as("placebo_did_ppm")))
          .withColumn("trends_suspect",
            when(abs(col("placebo_did_ppm")) * 2 > abs(col("did_ppm")) &&
                 abs(col("did_ppm")) > 0, 1L).otherwise(0L))
      }),

    // CUPED variance reduction — the standard pre-period covariate
    // adjustment for experiments: θ = cov(X,Y)/var(X) with X = a
    // user's pre-period activity and Y their post-period purchase
    // dollars; the achievable variance reduction at optimal θ is
    // exactly ρ² = cov²/(varX·varY). All second moments are exact
    // integers off one user-grain pass (dollar/count quantization);
    // θ and the reduction floor shared doubles. The readout a
    // platform uses to decide whether CUPED is worth wiring into a
    // metric.
    QDef("q_cuped", Some("""
      WITH d0 AS (SELECT min(epoch_us(date_trunc('day', ts)) // 86400000000)
                    AS m FROM events),
      u AS (SELECT user_id,
              CAST(sum(CASE WHEN epoch_us(date_trunc('day', ts)) // 86400000000
                            - d0.m < 15 THEN 1 ELSE 0 END) AS BIGINT) AS x,
              CAST(sum(CASE WHEN epoch_us(date_trunc('day', ts)) // 86400000000
                            - d0.m >= 15 AND event_type = 'purchase'
                       THEN CAST(floor(value + 0.5) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS y
            FROM events, d0 GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * x) AS BIGINT) AS sxx,
              CAST(sum(y * y) AS BIGINT) AS syy,
              CAST(sum(x * y) AS BIGINT) AS sxy
            FROM u)
      SELECT n AS n_users,
             CAST(n * sxx - sx * sx AS BIGINT) AS var_x_scaled,
             CAST(n * syy - sy * sy AS BIGINT) AS var_y_scaled,
             CAST(n * sxy - sx * sy AS BIGINT) AS cov_scaled,
             CAST(floor(1000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx))
               AS BIGINT) AS theta_milli,
             CAST(floor(1000000.0 * (1.0 * (n * sxy - sx * sy)) *
                        (n * sxy - sx * sy) /
                        ((1.0 * (n * sxx - sx * sx)) * (n * syy - sy * sy)))
               AS BIGINT) AS var_reduction_ppm
      FROM m"""),
      (s, d) => {
        val dn = expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
        val ev = t(s, d, "events")
        val d0 = ev.agg(min(dn).as("m"))
        val m = ev.select(col("user_id"), dn.as("dnum"), col("event_type"),
            col("value"))
          .crossJoin(broadcast(d0))
          .groupBy("user_id")
          .agg(sum(when(col("dnum") - col("m") < 15, 1L).otherwise(0L))
            .cast("long").as("x"),
            sum(when(col("dnum") - col("m") >= 15 &&
              col("event_type") === "purchase",
              floor(col("value") + lit(0.5)).cast("long")).otherwise(0L))
              .cast("long").as("y"))
          .agg(count(lit(1)).as("n"), sum("x").cast("long").as("sx"),
            sum("y").cast("long").as("sy"),
            sum(col("x") * col("x")).cast("long").as("sxx"),
            sum(col("y") * col("y")).cast("long").as("syy"),
            sum(col("x") * col("y")).cast("long").as("sxy"))
        val vx = col("n") * col("sxx") - col("sx") * col("sx")
        val vy = col("n") * col("syy") - col("sy") * col("sy")
        val cv = col("n") * col("sxy") - col("sx") * col("sy")
        m.select(col("n").as("n_users"),
          vx.cast("long").as("var_x_scaled"),
          vy.cast("long").as("var_y_scaled"),
          cv.cast("long").as("cov_scaled"),
          floor(lit(1000.0) * cv / vx).cast("long").as("theta_milli"),
          floor(lit(1000000.0) * (lit(1.0) * cv) * cv / ((lit(1.0) * vx) * vy))
            .cast("long").as("var_reduction_ppm"))
      }),

    // FORECAST BAKE-OFF on a 5-day holdout — naive (yesterday),
    // seasonal-naive (last week), and drift (yesterday + average
    // historical step) scored head-to-head per event type on mean
    // absolute error: the model-selection table that decides which
    // baseline a Holt/seasonal model must beat. Predictions come
    // from lag windows over the full series (the training cut is
    // enforced by scoring only the last 5 days, where every lag
    // reaches back across the boundary); the drift slope is the
    // exact rational (yₜ₋₁−y₁)/(t−2) floored once per prediction.
    // MAE in milli-events; winner = argmin with the model-name
    // tiebreak.
    QDef("q_forecast_bakeoff", Some("""
      WITH daily AS (SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
      idx AS (SELECT event_type, dnum, y,
                row_number() OVER (PARTITION BY event_type ORDER BY dnum) AS i,
                count(*) OVER (PARTITION BY event_type) AS n,
                first_value(y) OVER (PARTITION BY event_type ORDER BY dnum)
                  AS y1,
                lag(y, 1) OVER (PARTITION BY event_type ORDER BY dnum) AS l1,
                lag(y, 7) OVER (PARTITION BY event_type ORDER BY dnum) AS l7
              FROM daily),
      hold AS (SELECT event_type, y, l1, l7,
                 l1 + CAST(floor((1.0 * l1 - y1) / (i - 2)) AS BIGINT)
                   AS drift_pred
               FROM idx WHERE i > n - 5),
      e AS (SELECT event_type,
              CAST(sum(abs(y - l1)) AS BIGINT) AS e_naive,
              CAST(sum(abs(y - l7)) AS BIGINT) AS e_snaive,
              CAST(sum(abs(y - drift_pred)) AS BIGINT) AS e_drift,
              CAST(count(*) AS BIGINT) AS h
            FROM hold GROUP BY 1)
      SELECT event_type, h AS horizon,
             CAST((1000 * e_naive) // h AS BIGINT) AS mae_naive_milli,
             CAST((1000 * e_snaive) // h AS BIGINT) AS mae_snaive_milli,
             CAST((1000 * e_drift) // h AS BIGINT) AS mae_drift_milli,
             CASE WHEN e_naive <= e_snaive AND e_naive <= e_drift THEN 'naive'
                  WHEN e_snaive <= e_drift THEN 'seasonal_naive'
                  ELSE 'drift' END AS winner
      FROM e ORDER BY event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("dnum")
        val idx = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
          .withColumn("i", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .withColumn("y1", first("y").over(w))
          .withColumn("l1", lag("y", 1).over(w))
          .withColumn("l7", lag("y", 7).over(w))
        idx.filter(col("i") > col("n") - 5)
          .withColumn("drift_pred", col("l1") +
            floor((lit(1.0) * col("l1") - col("y1")) / (col("i") - 2))
              .cast("long"))
          .groupBy("event_type")
          .agg(sum(abs(col("y") - col("l1"))).cast("long").as("e_naive"),
            sum(abs(col("y") - col("l7"))).cast("long").as("e_snaive"),
            sum(abs(col("y") - col("drift_pred"))).cast("long").as("e_drift"),
            count(lit(1)).as("h"))
          .select(col("event_type"), col("h").as("horizon"),
            expr("div(1000 * e_naive, h)").cast("long").as("mae_naive_milli"),
            expr("div(1000 * e_snaive, h)").cast("long").as("mae_snaive_milli"),
            expr("div(1000 * e_drift, h)").cast("long").as("mae_drift_milli"),
            when(col("e_naive") <= col("e_snaive") &&
                 col("e_naive") <= col("e_drift"), "naive")
              .when(col("e_snaive") <= col("e_drift"), "seasonal_naive")
              .otherwise("drift").as("winner"))
          .orderBy("event_type")
      }),

    // SEQUENTIAL-PEEKING chart — the guardrail against the classic
    // A/B sin of stopping on the first significant daily look: the
    // running two-proportion z-statistic of the parity split,
    // recomputed at every daily peek from CUMULATIVE counts, with a
    // Pocock-style constant boundary (|z| ≥ 2.29 ≈ 2290 milli) and
    // a crossed flag per day. Cumulative cells come from one
    // day×arm aggregate + prefix-sum windows; z floors a shared
    // double of exact integers. The spec pins that crossings are
    // exactly the days where |z| beats the boundary.
    QDef("q_sequential_peeking", Some("""
      WITH e AS (SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
              user_id % 2 AS grp,
              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
            FROM events),
      dcell AS (SELECT dnum, grp, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(conv) AS BIGINT) AS pos
                FROM e GROUP BY 1, 2),
      cum AS (SELECT dnum, grp,
                CAST(sum(n) OVER (PARTITION BY grp ORDER BY dnum
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
                CAST(sum(pos) OVER (PARTITION BY grp ORDER BY dnum
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
              FROM dcell),
      wide AS (SELECT a.dnum, a.cn AS n0, a.cp AS p0, b.cn AS n1, b.cp AS p1
               FROM cum a JOIN cum b ON a.dnum = b.dnum
               WHERE a.grp = 0 AND b.grp = 1),
      z AS (SELECT dnum, n0, n1,
              CAST(floor(1000.0 *
                (1.0 * p1 / n1 - 1.0 * p0 / n0) /
                sqrt((1.0 * (p0 + p1) / (n0 + n1)) *
                     (1 - 1.0 * (p0 + p1) / (n0 + n1)) *
                     (1.0 / n0 + 1.0 / n1))) AS BIGINT) AS z_milli
            FROM wide)
      SELECT dnum, n0 AS cum_n_ctrl, n1 AS cum_n_treat, z_milli,
             CASE WHEN abs(z_milli) >= 2290 THEN 1 ELSE 0 END AS crossed
      FROM z ORDER BY dnum"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("grp").orderBy("dnum")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = t(s, d, "events")
          .select(expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
            .as("dnum"), (col("user_id") % 2).as("grp"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
          .groupBy("dnum", "grp")
          .agg(count(lit(1)).as("n"), sum("conv").cast("long").as("pos"))
          .withColumn("cn", sum("n").over(w))
          .withColumn("cp", sum("pos").over(w))
        val a = cum.filter(col("grp") === 0)
          .select(col("dnum"), col("cn").as("n0"), col("cp").as("p0"))
        val b = cum.filter(col("grp") === 1)
          .select(col("dnum").as("d2"), col("cn").as("n1"), col("cp").as("p1"))
        val pbar = lit(1.0) * (col("p0") + col("p1")) / (col("n0") + col("n1"))
        a.join(b, col("dnum") === col("d2"))
          .select(col("dnum"), col("n0").as("cum_n_ctrl"),
            col("n1").as("cum_n_treat"),
            floor(lit(1000.0) *
              (lit(1.0) * col("p1") / col("n1") - lit(1.0) * col("p0") / col("n0")) /
              sqrt(pbar * (lit(1) - pbar) *
                (lit(1.0) / col("n0") + lit(1.0) / col("n1"))))
              .cast("long").as("z_milli"))
          .withColumn("crossed",
            when(abs(col("z_milli")) >= 2290, 1L).otherwise(0L))
          .orderBy("dnum")
      }),

    // XmR (individuals / moving-range) CONTROL CHART per event
    // type — the SPC chart for unit-at-a-time metrics, completing
    // the monitoring family (q_alert_hysteresis debounces,
    // q_changepoint_cusum localizes, XmR DECIDES what counts as
    // special-cause): limits = ȳ ± 2.66·M̄R with M̄R the mean
    // absolute day-over-day move. Both means are exact rationals
    // floored once to milli; the violation count compares each
    // day's milli-scaled y against the floored limits — integer
    // compares end to end. One lag window + one per-type rollup.
    QDef("q_xmr_chart", Some("""
      WITH daily AS (SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
      mr AS (SELECT event_type, y,
               abs(y - lag(y) OVER (PARTITION BY event_type ORDER BY dnum))
                 AS m
             FROM daily),
      st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(m) AS BIGINT) AS sm, CAST(count(m) AS BIGINT) AS nm
             FROM mr GROUP BY 1),
      lim AS (SELECT event_type, n,
                CAST(floor(1000.0 * sy / n) AS BIGINT) AS ybar_milli,
                CAST(floor(1000.0 * sm / nm) AS BIGINT) AS mrbar_milli,
                CAST(floor(1000.0 * sy / n + 2.66 * (1000.0 * sm / nm))
                  AS BIGINT) AS ucl_milli,
                CAST(floor(1000.0 * sy / n - 2.66 * (1000.0 * sm / nm))
                  AS BIGINT) AS lcl_milli
              FROM st)
      SELECT l.event_type, l.n AS n_days, l.ybar_milli, l.mrbar_milli,
             l.ucl_milli, l.lcl_milli,
             CAST(sum(CASE WHEN 1000 * d.y > l.ucl_milli
                           OR 1000 * d.y < l.lcl_milli
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      FROM lim l JOIN daily d ON d.event_type = l.event_type
      GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY l.event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
        val st = daily
          .withColumn("m", abs(col("y") -
            lag("y", 1).over(Window.partitionBy("event_type").orderBy("dnum"))))
          .groupBy(col("event_type").as("et2"))
          .agg(count(lit(1)).as("n"), sum("y").cast("long").as("sy"),
            sum("m").cast("long").as("sm"), count("m").cast("long").as("nm"))
        val ybar = lit(1000.0) * col("sy") / col("n")
        val mrbar = lit(1000.0) * col("sm") / col("nm")
        val lim = st.select(col("et2"), col("n"),
          floor(ybar).cast("long").as("ybar_milli"),
          floor(mrbar).cast("long").as("mrbar_milli"),
          floor(ybar + lit(2.66) * mrbar).cast("long").as("ucl_milli"),
          floor(ybar - lit(2.66) * mrbar).cast("long").as("lcl_milli"))
        lim.join(daily, col("event_type") === col("et2"))
          .groupBy(col("event_type"), col("n").as("n_days"), col("ybar_milli"),
            col("mrbar_milli"), col("ucl_milli"), col("lcl_milli"))
          .agg(sum(when(lit(1000L) * col("y") > col("ucl_milli") ||
            lit(1000L) * col("y") < col("lcl_milli"), 1L).otherwise(0L))
            .cast("long").as("n_violations"))
          .orderBy("event_type")
      }),

    // ADF-STYLE UNIT-ROOT SCREEN per event type — is the daily
    // series mean-reverting (safe to model with the
    // q_trend_slope/q_holt_linear family) or a random walk (their
    // standard errors lie)? Regress Δyₜ on yₜ₋₁ and report the
    // t-statistic of the coefficient via the closed form
    // t = B·√((n−2)/(A·C−B²)) over the exact centered cross-moment
    // integers A, B, C (the A·C product routes through doubles —
    // it passes 1e19 — identically rounded in both engines).
    // t ≤ −2.86 (milli −2860) rejects the unit root at ~5%;
    // nonstationary flags the failures. One lag window + one
    // moment aggregate per type.
    QDef("q_adf_screen", Some("""
      WITH daily AS (SELECT event_type,
               epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
               CAST(count(*) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
      p AS (SELECT event_type,
              lag(y) OVER (PARTITION BY event_type ORDER BY dnum) AS x,
              y - lag(y) OVER (PARTITION BY event_type ORDER BY dnum) AS dy
            FROM daily),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sd,
              CAST(sum(x * x) AS BIGINT) AS sxx,
              CAST(sum(x * dy) AS BIGINT) AS sxd,
              CAST(sum(dy * dy) AS BIGINT) AS sdd
            FROM p WHERE x IS NOT NULL GROUP BY 1),
      abc AS (SELECT event_type, n,
                CAST(n * sxx - sx * sx AS BIGINT) AS a,
                CAST(n * sxd - sx * sd AS BIGINT) AS b,
                CAST(n * sdd - sd * sd AS BIGINT) AS c
              FROM m)
      SELECT event_type, n AS n_obs,
             CAST(floor(1000000.0 * b / a) AS BIGINT) AS phi_micro,
             CAST(floor(1000.0 * b * sqrt((n - 2) /
               (1.0 * a * c - 1.0 * b * b))) AS BIGINT) AS t_milli,
             CASE WHEN floor(1000.0 * b * sqrt((n - 2) /
               (1.0 * a * c - 1.0 * b * b))) > -2860 THEN 1 ELSE 0 END
               AS nonstationary
      FROM abc ORDER BY event_type"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("dnum")
        val m = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("div(unix_micros(date_trunc('day', ts)), 86400000000)")
              .as("dnum"))
          .agg(count(lit(1)).as("y"))
          .withColumn("x", lag("y", 1).over(w))
          .withColumn("dy", col("y") - col("x"))
          .filter(col("x").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("x").cast("long").as("sx"),
            sum("dy").cast("long").as("sd"),
            sum(col("x") * col("x")).cast("long").as("sxx"),
            sum(col("x") * col("dy")).cast("long").as("sxd"),
            sum(col("dy") * col("dy")).cast("long").as("sdd"))
        val a = (col("n") * col("sxx") - col("sx") * col("sx")).cast("long")
        val b = (col("n") * col("sxd") - col("sx") * col("sd")).cast("long")
        val c = (col("n") * col("sdd") - col("sd") * col("sd")).cast("long")
        val tM = floor(lit(1000.0) * col("b") * sqrt((col("n") - 2) /
          (lit(1.0) * col("a") * col("c") - lit(1.0) * col("b") * col("b"))))
        m.select(col("event_type"), col("n"), a.as("a"), b.as("b"), c.as("c"))
          .select(col("event_type"), col("n").as("n_obs"),
            floor(lit(1000000.0) * col("b") / col("a")).cast("long")
              .as("phi_micro"),
            tM.cast("long").as("t_milli"),
            when(tM > -2860, 1L).otherwise(0L).as("nonstationary"))
          .orderBy("event_type")
      }),

    // FIXED-EFFECT META-ANALYSIS of the per-nation price→quantity
    // slopes — pool q_simpson_audit's stratum estimates with
    // inverse-variance weights and report Cochran's Q heterogeneity
    // and I²: the readout that says whether ONE pooled elasticity
    // is defensible or the nations genuinely differ. Slope
    // variances come from the OLS closed form on the same exact
    // moment integers (doubles only at the final ratios, shared
    // rounding); weights are floored micro-precisions so the pooled
    // average is integer-weighted. nations-sized arithmetic after
    // the one part-grain pass.
    QDef("q_meta_pooled_slope", Some("""
      WITH pp AS (SELECT s.s_nationkey AS nk,
              CAST(floor(p.p_retailprice * 100.0 + 0.5) AS BIGINT) AS x,
              CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS y
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY 1, l.l_partkey, x),
      ms AS (SELECT nk, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
             FROM pp GROUP BY 1),
      est AS (SELECT nk, n,
                floor(1000000.0 * (1.0 * n * sxy - 1.0 * sx * sy) /
                      (1.0 * n * sxx - 1.0 * sx * sx)) AS phi_micro,
                -- w = 1/Var(phi) in micro-precision units:
                -- Var = (Sdd - B^2/A) / ((n-2) * A) on centered sums
                floor(1000000.0 * (n - 2) *
                  (1.0 * n * sxx - 1.0 * sx * sx) /
                  ((1.0 * n * syy - 1.0 * sy * sy) -
                   (1.0 * n * sxy - 1.0 * sx * sy) *
                   (1.0 * n * sxy - 1.0 * sx * sy) /
                   (1.0 * n * sxx - 1.0 * sx * sx)) / n) AS w_micro
              FROM ms WHERE n > 2),
      pool AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(w_micro) AS BIGINT) AS sw,
                 CAST(floor(1.0 * sum(w_micro * phi_micro) / sum(w_micro))
                   AS BIGINT) AS pooled_micro
               FROM est),
      het AS (SELECT pool.k, pool.pooled_micro,
                CAST(floor(sum(1.0 * e.w_micro *
                  (e.phi_micro - pool.pooled_micro) *
                  (e.phi_micro - pool.pooled_micro)) / 1000000000000.0)
                  AS BIGINT) AS q_stat
              FROM est e, pool GROUP BY pool.k, pool.pooled_micro)
      SELECT k AS k_strata, pooled_micro, q_stat,
             CAST(CASE WHEN q_stat <= k - 1 THEN 0
                  ELSE (1000000 * (q_stat - (k - 1))) // q_stat END AS BIGINT)
               AS i2_ppm
      FROM het"""),
      (s, d) => {
        val pp = t(s, d, "lineitem")
          .select("l_partkey", "l_suppkey", "l_quantity")
          .join(broadcast(t(s, d, "part").select(col("p_partkey"),
            floor(col("p_retailprice") * lit(100.0) + lit(0.5)).cast("long")
              .as("x"))), col("l_partkey") === col("p_partkey"))
          .join(broadcast(t(s, d, "supplier").select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey").as("nk"), col("l_partkey"), col("x"))
          .agg(sum(col("l_quantity").cast("long")).cast("long").as("y"))
        val ms = pp.groupBy("nk")
          .agg(count(lit(1)).as("n"), sum("x").cast("long").as("sx"),
            sum("y").cast("long").as("sy"),
            sum(col("x") * col("y")).cast("long").as("sxy"),
            sum(col("x") * col("x")).cast("long").as("sxx"),
            sum(col("y") * col("y")).cast("long").as("syy"))
          .filter(col("n") > 2)
        val aD = lit(1.0) * col("n") * col("sxx") - lit(1.0) * col("sx") * col("sx")
        val bD = lit(1.0) * col("n") * col("sxy") - lit(1.0) * col("sx") * col("sy")
        val cD = lit(1.0) * col("n") * col("syy") - lit(1.0) * col("sy") * col("sy")
        val est = ms.select(col("nk"), col("n"),
          floor(lit(1000000.0) * bD / aD).as("phi_micro"),
          floor(lit(1000000.0) * (col("n") - 2) * aD /
            (cD - bD * bD / aD) / col("n")).as("w_micro"))
        val pool = est.agg(count(lit(1)).as("k"),
          sum("w_micro").cast("long").as("sw"),
          floor(lit(1.0) * sum(col("w_micro") * col("phi_micro")) /
            sum(col("w_micro"))).cast("long").as("pooled_micro"))
        est.crossJoin(broadcast(pool))
          .groupBy("k", "pooled_micro")
          .agg(floor(sum(lit(1.0) * col("w_micro") *
            (col("phi_micro") - col("pooled_micro")) *
            (col("phi_micro") - col("pooled_micro"))) / lit(1000000000000.0))
            .cast("long").as("q_stat"))
          .select(col("k").as("k_strata"), col("pooled_micro"), col("q_stat"),
            when(col("q_stat") <= col("k") - 1, 0L)
              .otherwise(expr("div(1000000 * (q_stat - (k - 1)), q_stat)"))
              .cast("long").as("i2_ppm"))
      }),

    // DATASET DATASHEET — the one-row corpus card a training-data
    // release ships with: document and token counts, language and
    // source cardinalities, dominant-language share, exact-dup rate
    // and mean document length, all integer-exact off two scans
    // (one corpus aggregate + one hash-cluster aggregate reusing
    // the q_dedup_savings grouping). The capstone view over the
    // curation inventory.
    QDef("q_dataset_datasheet", Some("""
      WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
                AS BIGINT) AS n_tokens,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(sum(n_chars) AS BIGINT) AS n_chars,
              CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_en
            FROM documents),
      dup AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters
              FROM (SELECT md5(text) FROM documents GROUP BY 1))
      SELECT b.n_docs, b.n_tokens, b.n_langs, b.n_sources,
             CAST((1000 * b.n_chars) // b.n_docs AS BIGINT)
               AS mean_chars_milli,
             CAST((1000000 * b.n_en) // b.n_docs AS BIGINT) AS en_share_ppm,
             CAST((1000000 * (b.n_docs - d.n_clusters)) // b.n_docs AS BIGINT)
               AS dup_ppm
      FROM base b, dup d"""),
      (s, d) => {
        val base = t(s, d, "documents")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(TA.tokens(col("text")))).cast("long").as("n_tokens"),
            countDistinct("lang").as("n_langs"),
            countDistinct("source").as("n_sources"),
            sum("n_chars").cast("long").as("n_chars"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long")
              .as("n_en"))
        val dup = t(s, d, "documents")
          .groupBy(md5(col("text"))).count()
          .agg(count(lit(1)).as("n_clusters"))
        base.crossJoin(broadcast(dup))
          .select(col("n_docs"), col("n_tokens"), col("n_langs"),
            col("n_sources"),
            expr("div(1000 * n_chars, n_docs)").cast("long")
              .as("mean_chars_milli"),
            expr("div(1000000 * n_en, n_docs)").cast("long").as("en_share_ppm"),
            expr("div(1000000 * (n_docs - n_clusters), n_docs)").cast("long")
              .as("dup_ppm"))
      }),

    // INEQUALITY PANEL over customer spend — the one-row
    // concentration scorecard that condenses the Lorenz/ABC family:
    // exact Gini via the rank formula G = (2Σi·xᵢ − (n+1)Σx)/(nΣx)
    // on the ascending spend ranking (spend, custkey total order),
    // the Palma ratio (top-10% share ÷ bottom-40% share), and both
    // tail shares. One window pass over the CUSTOMER aggregate
    // (dim-sized); rank-weighted sums are exact integers and the
    // Gini ratio routes through shared doubles. The ppm/ratio
    // products and Σi·x route through DECIMAL(38,0) / HUGEINT:
    // 1e6·bot40 ≈ 1.1e19 at sf1 overflowed BIGINT in the r13 sf1
    // sweep (synthetic spend is near-uniform, so the bottom-40%
    // tranche holds ~30% of total money), and Σi·x = 3.4e18 at sf1
    // scales as SF² — exact to 1e38 on both engines; only
    // BIGINT-small quotients cross the oracle.
    QDef("q_inequality_panel", Some("""
      WITH spend AS (SELECT o_custkey,
              CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS x
            FROM orders GROUP BY 1),
      r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i,
              count(*) OVER () AS n
            FROM spend),
      m AS (SELECT max(n) AS n, CAST(sum(x) AS BIGINT) AS sx,
              sum(CAST(i AS HUGEINT) * x) AS six,
              sum(CASE WHEN i <= (2 * n) // 5 THEN CAST(x AS HUGEINT)
                ELSE 0 END) AS bot40,
              sum(CASE WHEN i > n - n // 10 THEN CAST(x AS HUGEINT)
                ELSE 0 END) AS top10
            FROM r)
      SELECT CAST(n AS BIGINT) AS n_customers,
             CAST(floor(1000000.0 * (2.0 * CAST(six AS DOUBLE) - (n + 1.0) * sx) /
                        (1.0 * n * sx)) AS BIGINT) AS gini_ppm,
             CAST((1000000 * top10) // sx AS BIGINT) AS top10_share_ppm,
             CAST((1000000 * bot40) // sx AS BIGINT) AS bot40_share_ppm,
             CAST((1000 * top10) // bot40 AS BIGINT) AS palma_milli
      FROM m"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val spend = t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
            .cast("long")).cast("long").as("x"))
        val r = spend
          .withColumn("i", row_number().over(
            Window.orderBy(col("x"), col("o_custkey"))).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        val m = r.agg(max("n").cast("long").as("n"),
          sum("x").cast("long").as("sx"),
          sum((col("i").cast("decimal(38,0)") * col("x"))).as("six"),
          sum(when(col("i") <= expr("div(2 * n, 5)"),
            col("x").cast("decimal(38,0)")).otherwise(lit(0))).as("bot40"),
          sum(when(col("i") > col("n") - expr("div(n, 10)"),
            col("x").cast("decimal(38,0)")).otherwise(lit(0))).as("top10"))
        m.select(col("n").as("n_customers"),
          floor(lit(1000000.0) *
            (lit(2.0) * col("six").cast("double") -
              (col("n") + lit(1.0)) * col("sx")) /
            (lit(1.0) * col("n") * col("sx"))).cast("long").as("gini_ppm"),
          expr("div(1000000 * top10, sx)").cast("long").as("top10_share_ppm"),
          expr("div(1000000 * bot40, sx)").cast("long").as("bot40_share_ppm"),
          expr("div(1000 * top10, bot40)").cast("long").as("palma_milli"))
      })
  )
}
