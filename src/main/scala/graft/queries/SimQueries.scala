package graft.queries

import org.apache.spark.sql.functions._
import graft.pipeline.Tables.t
import graft.sim.Similarity

/** Similarity search over `embeddings` (vec_id, embedding:
  * array<float> ×64, label). Arithmetic runs in float64 on both
  * engines; similarities are rounded to 3 decimals with an id
  * tiebreak so rankings are reproducible (SURVEY.md §5 float traps).
  */
object SimQueries {

  /** Shared DuckDB L2-norm sub-expression — ONE formula so the
    * cosine oracles and the norm-stats oracle stay in lockstep. */
  private def normSql(v: String): String =
    s"sqrt(list_sum(list_transform($v, x -> x * x)))"

  /** Shared DuckDB cosine expression over two named vector columns
    * (mirrors Similarity.cosine: dot / (||a||·||b||), each norm
    * sqrt'd separately) — ONE formula, parameterized, so every oracle
    * that scores cosine stays in lockstep.
    *
    * NEGATIVE-ZERO RULE: every `round(cos, 3)` that becomes an OUTPUT
    * column is wrapped `(round(...) + 0.0)` in the oracle. DuckDB's
    * round on DOUBLE preserves IEEE -0.0 while Spark's BigDecimal
    * round cannot represent it, so a cosine in (-0.0005, 0) renders
    * '-0.0' vs '0.0' and hash-diverges — caught by the r11 fresh-draw
    * sweep on q_embed_outlier_dist (ascending-sim outputs are where
    * near-zero negatives surface). Sort order needs no guard: both
    * engines compare -0.0 == 0.0, so the cid tiebreak decides ties
    * identically; only the rendered value differs. */
  private def cosineSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) /
       |(${normSql(a)} *
       | ${normSql(b)})""".stripMargin

  private val cosSql = cosineSql("qv", "cv")

  /** Multi-probe flip masks for one 8-bit SRP band: the identity plus
    * every 1-bit and 2-bit flip (1 + 8 + 28 = 37 probes). Shared by
    * the Spark plan and the interpolated oracle SQL so both engines
    * probe the identical sequence. */
  private val srpProbeMasks: Seq[Int] =
    0 +: ((0 until 8).map(1 << _) ++
      (for { j <- 0 until 8; k <- j + 1 until 8 } yield (1 << j) | (1 << k)))

  /** DuckDB (band-index, divisor) rows for the 4×8-bit SRP layout —
    * integer divisors, not `256 ** bi` (which binds DOUBLE). */
  private val srpBandsSql =
    """(SELECT CAST(0 AS BIGINT) AS bi, CAST(1 AS BIGINT) AS dv
       | UNION ALL SELECT 1, 256 UNION ALL SELECT 2, 65536
       | UNION ALL SELECT 3, 16777216) b""".stripMargin

  val all: Seq[QDef] = Seq(

    // Embedding hygiene stats per label cell: vector counts and
    // SQUARED-L2-norm min/max/sum, BORN-INTEGER. Each element is
    // quantized FIRST — qᵢ = floor(xᵢ·10⁶ + 0.5), one IEEE
    // multiply+add+floor per lane, bit-identical in any engine — and
    // the norm² is then Σqᵢ², a pure integer sum: no accumulation-
    // order dependence, no engine-version dependence in list_sum's
    // float reduction, no sqrt, no DECIMAL output (the r5–r7 driver
    // divergence: float/DECIMAL outputs convert differently per
    // reader). Units are picos of the squared norm (10⁻¹² — the
    // product of two 10⁻⁶ quantizations); the true norm is
    // √(norm2_pico·10⁻¹²), derivable by any consumer. Magnitudes:
    // |x| < 0.6 ⇒ q² ≤ 3.6e11, ×64 dims ≤ 2.3e13 per vector — per-
    // label sums stay inside BIGINT past sf100. The scan→agg is one
    // map-side-combined pass.
    QDef("q_embed_norm_stats", Some("""
      WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT label,
              CAST(list_sum(list_transform(v,
                x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) *
                     CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))) AS BIGINT) AS norm2_pico
            FROM e)
      SELECT label, count(*) AS n_vecs,
             min(norm2_pico) AS min_norm2_pico,
             max(norm2_pico) AS max_norm2_pico,
             CAST(sum(norm2_pico) AS BIGINT) AS sum_norm2_pico
      FROM n GROUP BY label ORDER BY label"""),
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("label"),
          col("embedding").cast("array<double>").as("v"))
        val q = (x: org.apache.spark.sql.Column) =>
          floor(x * lit(1000000.0) + lit(0.5)).cast("long")
        e.select(col("label"),
            aggregate(col("v"), lit(0L), (acc, x) => acc + q(x) * q(x)).as("norm2_pico"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            min(col("norm2_pico")).as("min_norm2_pico"),
            max(col("norm2_pico")).as("max_norm2_pico"),
            sum(col("norm2_pico")).cast("long").as("sum_norm2_pico"))
          .orderBy("label")
      }),

    // INT8 scalar quantization (embedding compression for the vector
    // lake): per-vector min/max affine map to 0..255 codes, plus the
    // max reconstruction error in code-step units. Every arithmetic
    // step is the same IEEE-double expression on both engines
    // (floor-based rounding, no round()), so codes and error stats
    // are bit-exact cross-engine. One narrow projection per row — at
    // 100 TB this runs inside the scan with zero shuffles. Empty
    // vectors are structurally excluded on BOTH sides (they're where
    // the engines' empty-fold semantics diverge: DuckDB list_sum([])
    // is NULL, Spark aggregate([], 0L, +) is 0) — a no-op under the
    // fixed-width testdata contract, load-bearing beyond it.
    QDef("q_embed_quantize_i8", Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE len(embedding) > 0),
      mm AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM e),
      c AS (SELECT vec_id, v, lo, hi,
        CASE WHEN hi = lo THEN list_transform(v, x -> CAST(0 AS BIGINT))
             ELSE list_transform(v, x -> CAST(floor((x - lo) / (hi - lo) * 255 + 0.5) AS BIGINT))
        END AS codes FROM mm),
      err AS (SELECT vec_id, codes, lo, hi,
        CASE WHEN hi = lo THEN 0.0
             ELSE list_max(list_transform(range(1, len(v) + 1),
                    i -> abs(v[i] - (lo + (codes[i] / 255.0) * (hi - lo))))) * 255 / (hi - lo)
        END AS rel_err FROM c)
      SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
             CAST(list_sum(codes) AS BIGINT) AS code_sum,
             md5(array_to_string(codes, ',')) AS code_fp,
             CAST(floor(rel_err * 1000 + 0.5) AS BIGINT) AS max_err_milli_steps
      FROM err ORDER BY vec_id"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .filter(size(col("embedding")) > 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val mm = e.select(col("vec_id"), col("v"),
          array_min(col("v")).as("lo"), array_max(col("v")).as("hi"))
        val c = mm.withColumn("codes",
          when(col("hi") === col("lo"),
            transform(col("v"), _ => lit(0L)))
            .otherwise(transform(col("v"), x =>
              floor((x - col("lo")) / (col("hi") - col("lo")) * lit(255) + lit(0.5)))))
        val err = c.withColumn("rel_err",
          when(col("hi") === col("lo"), lit(0.0))
            .otherwise(array_max(zip_with(col("v"), col("codes"), (x, cd) =>
              abs(x - (col("lo") + (cd / lit(255.0)) * (col("hi") - col("lo"))))))
              * lit(255) / (col("hi") - col("lo"))))
        err.select(col("vec_id"),
          size(col("codes")).cast("long").as("n_dims"),
          aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"),
          md5(array_join(transform(col("codes"), _.cast("string")), ","))
            .as("code_fp"),
          floor(col("rel_err") * lit(1000) + lit(0.5)).cast("long")
            .as("max_err_milli_steps"))
          .orderBy("vec_id")
      }),

    // Brute-force cosine top-k: 10 query vectors vs the full corpus.
    QDef("q_embed_cosine_topk", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, v AS cv FROM e),
      s AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
            FROM q CROSS JOIN c WHERE qid <> cid),
      r AS (SELECT qid, cid, sim3,
            CAST(row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) AS BIGINT) AS rank
            FROM s)
      SELECT qid, cid, sim3, rank FROM r WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("v").as("cv"))
        Similarity.bruteForceTopK(c, q, 5).orderBy("qid", "rank")
      }),

    // IVF-style pruned top-k: candidates restricted to the query's
    // cell (precomputed `label` column stands in for a k-means cell
    // assignment; at scale the corpus is partitioned by cell so the
    // scan prunes).
    QDef("q_embed_ann_ivf", Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, label AS cell, v AS cv FROM e),
      s AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
            FROM q JOIN c USING (cell) WHERE qid <> cid),
      r AS (SELECT qid, cid, sim3,
            CAST(row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) AS BIGINT) AS rank
            FROM s)
      SELECT qid, cid, sim3, rank FROM r WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").as("cell"),
            col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cell"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("cell"), col("v").as("cv"))
        Similarity.ivfTopK(c, q, 5).orderBy("qid", "rank")
      }),

    // IVF with a computed coarse index: centroids = the first 8
    // vectors (deterministic "training" pick), every vector assigned
    // to its argmax-cosine centroid (id tiebreak), then top-k within
    // the query's cell. At scale the assigned corpus is written
    // partitioned by cell so probes prune at the scan.
    QDef("q_embed_ann_ivf_kmeans", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 8),
      scored AS (SELECT e.vec_id AS cid, e.v AS cv, cent.cell,
        round(${cosineSql("e.v", "cent.centv")}, 6) AS cs
        FROM e CROSS JOIN cent),
      assigned AS (SELECT cid, cv, cell FROM scored
        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY cs DESC, cell) = 1),
      q AS (SELECT cid AS qid, cell, cv AS qv FROM assigned WHERE cid < 10),
      c AS (SELECT cid, cell, cv FROM assigned),
      s AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
            FROM q JOIN c USING (cell) WHERE qid <> cid),
      r AS (SELECT qid, cid, sim3,
            CAST(row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) AS BIGINT) AS rank
            FROM s)
      SELECT qid, cid, sim3, rank FROM r WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"))
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("v").as("centv"))
        val assigned = Similarity.ivfAssign(corpus, centroids)
        val q = assigned.filter(col("cid") < 10)
          .select(col("cid").as("qid"), col("cell"), col("cv").as("qv"))
        val c = assigned.select(col("cid"), col("cell"), col("cv"))
        Similarity.ivfTopK(c, q, 5).orderBy("qid", "rank")
      }),

    // EMBEDDING OUTLIERS by centroid distance: the 5 vectors in each
    // IVF cell FARTHEST from their own centroid (lowest cosine) —
    // the curation read on the vector lake: far-from-every-centroid
    // rows are mislabeled/degenerate/junk embedding candidates, the
    // vector-space analogue of q_doc_quality_filter's text gates.
    // Reuses the kmeans assignment (driver-inlined argmax, no join,
    // no shuffle for scoring); the per-cell rank is ONE window over
    // the cell partition with the map-side WindowGroupLimit, and the
    // centroid re-score joins an 8-row broadcast. Ascending sim3
    // with cid tiebreak — the same rounded-rank discipline as every
    // ANN query here.
    QDef("q_embed_outlier_dist", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 8),
      scored AS (SELECT e.vec_id AS cid, e.v AS cv, cent.cell,
        round(${cosineSql("e.v", "cent.centv")}, 6) AS cs
        FROM e CROSS JOIN cent),
      assigned AS (SELECT cid, cv, cell FROM scored
        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY cs DESC, cell) = 1),
      s AS (SELECT a.cell, a.cid, (round(${cosineSql("a.cv", "cent.centv")}, 3) + 0.0) AS sim3
            FROM assigned a JOIN cent USING (cell)),
      r AS (SELECT cell, cid, sim3,
            CAST(row_number() OVER (PARTITION BY cell ORDER BY sim3 ASC, cid) AS BIGINT) AS rank
            FROM s)
      SELECT cell, rank, cid, sim3 FROM r WHERE rank <= 5 ORDER BY cell, rank"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"))
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("v").as("centv"))
        val scored = Similarity.ivfAssign(corpus, centroids)
          .join(broadcast(centroids), "cell")
          .select(col("cell"), col("cid"),
            round(Similarity.cosine(col("cv"), col("centv")), 3).as("sim3"))
        val w = Window.partitionBy("cell").orderBy(col("sim3").asc, col("cid"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select("cell", "rank", "cid", "sim3")
          .orderBy("cell", "rank")
      }),

    // IVF with multi-cell probe (nprobe=2): corpus vectors keep their
    // single argmax cell, but each QUERY searches its 2 nearest cells
    // — the standard IVF recall lever (a query sitting near a Voronoi
    // face also probes the neighbor, so near-boundary neighbors stop
    // vanishing; closes the acknowledged nprobe=1 gap in r6's
    // ivfTopK). Probe-cell selection is the same narrow driver-inlined
    // argmax structure as assignment (sort the in-row scored array,
    // keep 2, explode) — no extra join or shuffle; candidate volume is
    // nprobe·avg-cell, still Σ n_cell², never n². The per-qid rank
    // window spans both probed cells, so the top-5 is global.
    QDef("q_embed_ann_ivf_nprobe", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 8),
      scored AS (SELECT e.vec_id AS cid, e.v AS cv, cent.cell,
        round(${cosineSql("e.v", "cent.centv")}, 6) AS cs
        FROM e CROSS JOIN cent),
      assigned AS (SELECT cid, cv, cell FROM scored
        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY cs DESC, cell) = 1),
      qprobe AS (SELECT cid AS qid, cv AS qv, cell FROM scored WHERE cid < 10
        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY cs DESC, cell) <= 2),
      s AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
            FROM qprobe q JOIN assigned c USING (cell) WHERE qid <> cid),
      r AS (SELECT qid, cid, sim3,
            CAST(row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) AS BIGINT) AS rank
            FROM s)
      SELECT qid, cid, sim3, rank FROM r WHERE rank <= 5 ORDER BY qid, rank"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"))
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("v").as("centv"))
        val assigned = Similarity.ivfAssign(corpus, centroids)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val probes = Similarity.ivfProbeCells(q, centroids, nprobe = 2)
        Similarity.ivfTopK(assigned.select(col("cid"), col("cell"), col("cv")),
          probes, 5).orderBy("qid", "rank")
      }),

    // ANN RECALL EVALUATION: recall@5 of the IVF cell-restricted
    // search against the brute-force truth, per query — the
    // embedding-side analog of q_dedup_eval. THE acceptance gate for
    // an index config: before standing up an IVF index over 10⁹
    // vectors you measure recall on a bounded query sample exactly
    // like this (the brute-force truth pass is linear-in-corpus per
    // query and lives ONLY in the harness). Both rankings reuse the
    // production operators (bruteForceTopK / ivfTopK: rounded sims +
    // id tiebreak, so both sets are engine-reproducible); the compare
    // is a pair-key left join + per-qid counts — born-integer hits
    // and permille recall. Non-vacuous by observation: the synthetic
    // `label` cells score 0–400 permille recall@5 (they are weak
    // cosine neighborhoods), exactly the config-rejection signal this
    // gate exists to produce.
    QDef("q_embed_recall_eval", Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, label AS cell, v AS cv FROM e),
      ts AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q CROSS JOIN c WHERE qid <> cid),
      tr AS (SELECT qid, cid FROM ts
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 5),
      sv AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q JOIN c USING (cell) WHERE qid <> cid),
      ar AS (SELECT qid, cid FROM sv
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 5),
      ta AS (SELECT qid, count(*) AS n_truth FROM tr GROUP BY qid),
      aa AS (SELECT qid, count(*) AS n_ann FROM ar GROUP BY qid),
      h AS (SELECT t.qid, count(a.cid) AS hits FROM tr t
            LEFT JOIN ar a ON t.qid = a.qid AND t.cid = a.cid GROUP BY t.qid)
      SELECT ta.qid AS qid, n_truth, coalesce(n_ann, 0) AS n_ann, hits,
             (1000 * hits) // n_truth AS recall_permille
      FROM ta JOIN h ON ta.qid = h.qid LEFT JOIN aa ON ta.qid = aa.qid
      ORDER BY ta.qid"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").as("cell"),
            col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cell"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("cell"), col("v").as("cv"))
        val truth = Similarity.bruteForceTopK(
          c.select("cid", "cv"), q.select("qid", "qv"), 5).select("qid", "cid")
        val ann = Similarity.ivfTopK(c, q, 5).select("qid", "cid")
        val ta = truth.groupBy("qid").agg(count(lit(1)).as("n_truth"))
        val aa = ann.groupBy("qid").agg(count(lit(1)).as("n_ann"))
        val h = truth.join(ann.withColumn("a", lit(1)), Seq("qid", "cid"), "left")
          .groupBy("qid").agg(count(col("a")).as("hits"))
        ta.join(h, Seq("qid")).join(aa, Seq("qid"), "left")
          .select(col("qid"), col("n_truth"),
            coalesce(col("n_ann"), lit(0L)).as("n_ann"), col("hits"),
            expr("div(1000 * hits, n_truth)").as("recall_permille"))
          .orderBy("qid")
      }),

    // RECALL@K CURVE: the IVF cell search's recall at k ∈ {1, 3, 5,
    // 10} against brute-force truth — the acceptance CURVE
    // (q_embed_recall_eval is the single @5 gate; deployments pick k
    // from the knee of this table, and a curve that's flat-low at
    // small k but fine at 10 means the cell search finds the
    // neighborhood but misorders it — exactly what q_rbp_ranking_eval
    // then quantifies). Both rankings are computed ONCE at depth 10
    // and every k is a rank-filtered join of the same two tables —
    // no re-search per k. Aggregate permille over querying probes;
    // exact integers.
    QDef("q_recall_curve", Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, label AS cell, v AS cv FROM e),
      ts AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q CROSS JOIN c WHERE qid <> cid),
      tr AS (SELECT qid, cid,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid)
                 AS BIGINT) AS rnk
             FROM ts
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 10),
      sv AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q JOIN c USING (cell) WHERE qid <> cid),
      ar AS (SELECT qid, cid,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid)
                 AS BIGINT) AS rnk
             FROM sv
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 10),
      ks AS (SELECT 1 AS k UNION ALL SELECT 3 UNION ALL SELECT 5 UNION ALL
             SELECT 10),
      cell_h AS (SELECT ks.k, t.qid, count(a.cid) AS hits, count(*) AS n_truth
                 FROM ks JOIN tr t ON t.rnk <= ks.k
                 LEFT JOIN ar a ON a.qid = t.qid AND a.cid = t.cid
                   AND a.rnk <= ks.k
                 GROUP BY 1, 2)
      SELECT CAST(k AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS n_queries,
             CAST(sum(hits) AS BIGINT) AS hits,
             CAST(sum(n_truth) AS BIGINT) AS n_truth,
             CAST((1000 * sum(hits)) // sum(n_truth) AS BIGINT)
               AS recall_permille
      FROM cell_h GROUP BY 1 ORDER BY k"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").as("cell"), col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cell"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("cell"), col("v").as("cv"))
        val truth = Similarity.bruteForceTopK(
          c.select("cid", "cv"), q.select("qid", "qv"), 10)
          .select(col("qid"), col("cid"), col("rank").as("t_rnk"))
        val ann = Similarity.ivfTopK(c, q, 10)
          .select(col("qid").as("a_qid"), col("cid").as("a_cid"),
            col("rank").as("a_rnk"))
        val ks = Seq(1, 3, 5, 10).map(k =>
          truth.filter(col("t_rnk") <= k)
            .join(ann.filter(col("a_rnk") <= k),
              col("qid") === col("a_qid") && col("cid") === col("a_cid"), "left")
            .groupBy("qid")
            .agg(count(col("a_cid")).as("hits"), count(lit(1)).as("n_truth"))
            .agg(count(lit(1)).as("n_queries"), sum("hits").cast("long").as("hits"),
              sum("n_truth").cast("long").as("n_truth"))
            .select(lit(k.toLong).as("k"), col("n_queries"), col("hits"),
              col("n_truth"),
              expr("div(1000 * hits, n_truth)").as("recall_permille")))
        ks.reduce(_ unionByName _).orderBy("k")
      }),

    // RANK-BIASED PRECISION at p = 1/2 — the RANK-SENSITIVE sibling
    // of q_embed_recall_eval's set recall: a truth hit at ANN rank 1
    // is worth 2× one at rank 2 (Moffat–Zobel persistence model), so
    // a cell search that finds the right neighbors but in the wrong
    // order is penalized where recall@k can't see it. p = 1/2 is the
    // engine-exactness trick: every weight is a DYADIC rational, so
    // the whole metric scales to the integer Σ 2^(10−rank) over hits
    // (max 1023) — no float touches the oracle surface, unlike nDCG,
    // whose log2 discount is not exactly-rounded IEEE. Rankings are
    // the two production paths (brute truth, IVF cell search) at
    // k = 10; the quadratic truth pass is harness-bounded (10
    // probes), the IVF side joins on the cell key.
    QDef("q_rbp_ranking_eval", Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, label AS cell, v AS cv FROM e),
      ts AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q CROSS JOIN c WHERE qid <> cid),
      tr AS (SELECT qid, cid FROM ts
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 10),
      sv AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q JOIN c USING (cell) WHERE qid <> cid),
      ar AS (SELECT qid, cid,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid)
                 AS BIGINT) AS rnk
             FROM sv
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 10),
      j AS (SELECT ar.qid, ar.rnk,
              CASE WHEN tr.cid IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM ar LEFT JOIN tr ON ar.qid = tr.qid AND ar.cid = tr.cid)
      SELECT qid, CAST(count(*) AS BIGINT) AS n_ranked,
             CAST(sum(hit) AS BIGINT) AS hits,
             CAST(sum(hit * (1 << CAST(10 - rnk AS INTEGER))) AS BIGINT)
               AS rbp_scaled,
             CAST((1000 * sum(hit * (1 << CAST(10 - rnk AS INTEGER)))) // 1023
               AS BIGINT) AS rbp_permille
      FROM j GROUP BY qid ORDER BY qid"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").as("cell"), col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cell"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("cell"), col("v").as("cv"))
        val truth = Similarity.bruteForceTopK(
          c.select("cid", "cv"), q.select("qid", "qv"), 10).select("qid", "cid")
        val ann = Similarity.ivfTopK(c, q, 10).select("qid", "cid", "rank")
        ann.join(truth.withColumn("hit", lit(1L)), Seq("qid", "cid"), "left")
          .select(col("qid"), col("rank"),
            coalesce(col("hit"), lit(0L)).as("hit"))
          .groupBy("qid")
          .agg(count(lit(1)).as("n_ranked"), sum("hit").cast("long").as("hits"),
            sum(col("hit") *
              expr("shiftleft(cast(1 as bigint), cast(10 - rank as int))"))
              .cast("long").as("rbp_scaled"))
          .select(col("qid"), col("n_ranked"), col("hits"), col("rbp_scaled"),
            expr("div(1000 * rbp_scaled, 1023)").as("rbp_permille"))
          .orderBy("qid")
      }),

    // MEAN-RECIPROCAL-RANK at k = 10 — the FIRST-HIT member of the
    // eval triad (q_embed_recall_eval: set overlap; q_rbp: all-hit
    // rank weighting; MRR: position of the first relevant result
    // only — the number a RAG front-end actually reports, because one
    // good passage at rank 1 is all the generator consumes). Same
    // exactness trick as RBP's dyadic weights, adapted: 1/r is not a
    // terminating binary fraction for r ∈ {3,6,7,9}, so the metric is
    // scaled by 2520 = lcm(1..10) — every 2520/r is an exact BIGINT
    // and no float touches the oracle surface. Rankings are the two
    // production paths (brute-force truth, IVF cell search) at
    // k = 10; a probe whose ANN list contains no truth neighbor
    // scores 0 via the left join (never NULL). The quadratic truth
    // pass is harness-bounded (10 probes); the IVF side joins on the
    // cell key — at corpus scale both sides stay the bounded probe
    // fan-out, never an all-pairs product.
    QDef("q_mrr_eval", Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, label AS cell, v AS cv FROM e),
      ts AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q CROSS JOIN c WHERE qid <> cid),
      tr AS (SELECT qid, cid FROM ts
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 10),
      sv AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q JOIN c USING (cell) WHERE qid <> cid),
      ar AS (SELECT qid, cid,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid)
                 AS BIGINT) AS rnk
             FROM sv
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 10),
      fh AS (SELECT ar.qid, CAST(count(tr.cid) AS BIGINT) AS hits,
               min(CASE WHEN tr.cid IS NOT NULL THEN ar.rnk END) AS fr
             FROM ar LEFT JOIN tr ON ar.qid = tr.qid AND ar.cid = tr.cid
             GROUP BY ar.qid)
      SELECT q.qid, coalesce(fh.hits, 0) AS hits,
             CAST(coalesce(fh.fr, 0) AS BIGINT) AS first_hit_rank,
             CAST(CASE WHEN fh.fr IS NULL THEN 0 ELSE 2520 // fh.fr END
               AS BIGINT) AS mrr_scaled_2520
      FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN fh USING (qid)
      ORDER BY qid"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").as("cell"), col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("cell"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("cell"), col("v").as("cv"))
        val truth = Similarity.bruteForceTopK(
          c.select("cid", "cv"), q.select("qid", "qv"), 10).select("qid", "cid")
        val ann = Similarity.ivfTopK(c, q, 10).select("qid", "cid", "rank")
        val fh = ann
          .join(truth.withColumn("hit", lit(1L)), Seq("qid", "cid"), "left")
          .groupBy("qid")
          .agg(count(col("hit")).as("hits"),
            min(when(col("hit").isNotNull, col("rank"))).as("fr"))
        q.select("qid").distinct()
          .join(fh, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"),
            coalesce(col("fr"), lit(0L)).cast("long").as("first_hit_rank"),
            when(col("fr").isNull, lit(0L))
              .otherwise(expr("div(2520, fr)")).as("mrr_scaled_2520"))
          .orderBy("qid")
      }),

    // K-MEANS CENTROID RECOMPUTE (one Lloyd iteration): assign every
    // vector to its nearest centroid, then recompute each cell's mean
    // — the "train" step that closes the IVF loop (build → assign →
    // probe → recall-gate → RETRAIN). The scale shape is exactly how
    // distributed k-means runs: assignment is the narrow zero-shuffle
    // per-row argmax (ivfAssign — no join, no crossJoin expansion),
    // and the recompute is ONE map-side-combined hash aggregate on
    // (cell, dim) — per iteration the cluster shuffles only
    // |cells|×|dims| partial sums per partition, never vectors.
    // Exactness: each component is quantized FIRST (qᵢ =
    // floor(xᵢ·10⁶+0.5), bit-identical in any engine — the
    // q_embed_norm_stats discipline), sums are pure BIGINT, and the
    // mean is a truncating integer division (Spark's `div` truncates
    // toward zero; the oracle's sign-aware CASE makes DuckDB's floor
    // `//` match on the negative sums, which are ~half of them).
    QDef("q_kmeans_recompute", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 8),
      scored AS (SELECT e.vec_id AS cid, e.v AS cv, cent.cell,
        round(${cosineSql("e.v", "cent.centv")}, 6) AS cs
        FROM e CROSS JOIN cent),
      assigned AS (SELECT cid, cv, cell FROM scored
        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY cs DESC, cell) = 1),
      ps AS (SELECT cell, unnest(range(1, len(cv) + 1)) AS i, cv FROM assigned),
      qc AS (SELECT cell, CAST(i AS BIGINT) AS pos,
             CAST(floor(cv[i] * 1000000.0 + 0.5) AS BIGINT) AS q FROM ps),
      g AS (SELECT cell, pos, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_micro
            FROM qc GROUP BY cell, pos)
      SELECT cell, pos, n, sum_micro,
             CASE WHEN sum_micro >= 0 THEN sum_micro // n
                  ELSE -((-sum_micro) // n) END AS centroid_micro
      FROM g ORDER BY cell, pos"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val cents = e.filter(col("cid") < 8)
          .select(col("cid").as("cell"), col("cv").as("centv"))
        val assigned = Similarity.ivfAssign(e, cents)
        assigned
          .select(col("cell"), posexplode(col("cv").cast("array<double>")))
          .select(col("cell"), (col("pos") + 1).cast("long").as("pos"),
            floor(col("col") * lit(1000000.0) + lit(0.5)).cast("long").as("q"))
          .groupBy("cell", "pos")
          .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_micro"))
          .select(col("cell"), col("pos"), col("n"), col("sum_micro"),
            expr("div(sum_micro, n)").as("centroid_micro"))
          .orderBy("cell", "pos")
      }),

    // PRODUCT QUANTIZATION codes (Jégou et al. 2011) — the third leg
    // of the vector-compression story (int8 scalar → PQ → IVF/SRP
    // coarse): each micro-quantized vector splits into 8 subvectors
    // of 8 lanes, each assigned its nearest codebook entry by pure-
    // BIGINT squared L2 (codebook = the first 16 vectors' subvectors,
    // a deterministic "training" pick like q_embed_ann_ivf_kmeans).
    // 64 f32 dims compress to 8 codes; dist_pico2 is the per-subspace
    // reconstruction error. Encoding is a narrow zero-shuffle
    // projection over driver-inlined codebook literals (plan-pinned;
    // see Similarity.pqCodes for the 100 TB asymmetric-search story).
    QDef("q_embed_pq_codes", Some("""
      WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
      cent AS (SELECT vec_id AS code, q AS cq FROM e WHERE vec_id < 16),
      sub AS (SELECT vec_id, q, unnest(range(0, 8)) AS j FROM e),
      sc AS (SELECT vec_id, j, code,
               CAST(list_sum(list_transform(range(1, 9), i ->
                 (q[j*8 + i] - cq[j*8 + i]) * (q[j*8 + i] - cq[j*8 + i]))) AS BIGINT) AS dist
             FROM sub CROSS JOIN cent),
      best AS (SELECT vec_id, CAST(j AS BIGINT) AS sub_j, CAST(code AS BIGINT) AS code, dist
               FROM sc QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1)
      SELECT vec_id, sub_j, code, dist AS dist_pico2 FROM best
      ORDER BY vec_id, sub_j"""),
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"),
          Similarity.srpQuantize(col("embedding")).as("q"))
        val cb = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("code"), col("q").as("cq"))
        Similarity.pqCodes(e, cb, m = 8, dsub = 8).orderBy("vec_id", "sub_j")
      }),

    // PQ ASYMMETRIC-DISTANCE SEARCH (ADC — the reason PQ exists):
    // each query precomputes a tiny lookup table (8 subspaces × 16
    // codewords = 128 integer distances) against the SHARED codebook;
    // a candidate's distance is then Σⱼ LUT[j][codeⱼ] — the corpus
    // side contributes ONLY its codes, never raw vectors. Top-5 per
    // query by exact-integer ADC distance (cid tiebreak). Scale
    // shape: the LUT (|queries|×128 rows) broadcasts into an
    // equi-join on (sub_j, code) against the 8-rows-per-vector code
    // table, one (qid, cid) re-agg, and the rank window rewrites to a
    // map-side WindowGroupLimit — at 100 TB the scan reads an
    // 8-byte-per-vector code column, which is the entire point.
    QDef("q_embed_pq_adc", Some("""
      WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
      cent AS (SELECT vec_id AS code, q AS cq FROM e WHERE vec_id < 16),
      sub AS (SELECT vec_id, q, unnest(range(0, 8)) AS j FROM e),
      sc AS (SELECT vec_id, j, code,
               CAST(list_sum(list_transform(range(1, 9), i ->
                 (q[j*8 + i] - cq[j*8 + i]) * (q[j*8 + i] - cq[j*8 + i]))) AS BIGINT) AS dist
             FROM sub CROSS JOIN cent),
      codes AS (SELECT vec_id, CAST(j AS BIGINT) AS sub_j, CAST(code AS BIGINT) AS code
                FROM sc QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1),
      lut AS (SELECT vec_id AS qid, CAST(j AS BIGINT) AS sub_j,
                     CAST(code AS BIGINT) AS code, dist AS d
              FROM sc WHERE vec_id < 10),
      adc AS (SELECT qid, codes.vec_id AS cid, CAST(sum(d) AS BIGINT) AS adc_dist
              FROM lut JOIN codes USING (sub_j, code)
              WHERE qid <> codes.vec_id GROUP BY qid, cid),
      r AS (SELECT qid, cid, adc_dist,
              CAST(row_number() OVER (PARTITION BY qid ORDER BY adc_dist, cid) AS BIGINT) AS rank
            FROM adc)
      SELECT qid, cid, adc_dist, rank FROM r WHERE rank <= 5
      ORDER BY qid, rank"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "embeddings").select(col("vec_id"),
          Similarity.srpQuantize(col("embedding")).as("q"))
        val cb = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("code"), col("q").as("cq"))
        val codes = Similarity.pqCodes(e, cb, m = 8, dsub = 8)
          .select(col("vec_id"), col("sub_j"), col("code"))
        // per-query LUT: distance of the query's subvector to EVERY
        // codeword — pqCodes with an un-argmin'd variant would hide
        // the join, so compute it directly against the same codebook
        val lut = Similarity.pqLut(e.filter(col("vec_id") < 10), cb, m = 8, dsub = 8)
        val adc = broadcast(lut).join(codes, Seq("sub_j", "code"))
          .filter(col("qid") =!= col("vec_id"))
          .groupBy(col("qid"), col("vec_id").as("cid"))
          .agg(sum(col("d")).cast("long").as("adc_dist"))
        val w = Window.partitionBy("qid").orderBy(col("adc_dist"), col("cid"))
        adc.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .orderBy("qid", "rank")
      }),

    // PQ ACCEPTANCE GATE (closing the eval trilogy: IVF recall, SRP
    // probe matrix, and now PQ): per-query recall@5 of (a) the raw
    // ADC top-5 and (b) the PRODUCTION pattern — ADC shortlist-50
    // re-ranked by exact integer L2 — against exact-integer-L2 truth.
    // On this corpus the curve is ~16% raw vs ~72% reranked: the
    // number that says "never serve raw ADC ranks; rerank a
    // shortlist" (a truth member inside the shortlist is always
    // recovered by the exact rerank, so shortlist hit-count IS the
    // reranked recall). The quadratic truth pass is harness-only;
    // production scans codes, reranks |shortlist| vectors per query.
    QDef("q_embed_pq_rerank_eval", Some("""
      WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
      cent AS (SELECT vec_id AS code, q AS cq FROM e WHERE vec_id < 16),
      sub AS (SELECT vec_id, q, unnest(range(0, 8)) AS j FROM e),
      sc AS (SELECT vec_id, j, code,
               CAST(list_sum(list_transform(range(1, 9), i ->
                 (q[j*8 + i] - cq[j*8 + i]) * (q[j*8 + i] - cq[j*8 + i]))) AS BIGINT) AS dist
             FROM sub CROSS JOIN cent),
      codes AS (SELECT vec_id, CAST(j AS BIGINT) AS sub_j, CAST(code AS BIGINT) AS code
                FROM sc QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1),
      lut AS (SELECT vec_id AS qid, CAST(j AS BIGINT) AS sub_j,
                     CAST(code AS BIGINT) AS code, dist AS d
              FROM sc WHERE vec_id < 10),
      adc AS (SELECT qid, codes.vec_id AS cid, CAST(sum(d) AS BIGINT) AS adc_dist
              FROM lut JOIN codes USING (sub_j, code)
              WHERE qid <> codes.vec_id GROUP BY qid, cid),
      sl AS (SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, cid) AS rk
             FROM adc),
      ts AS (SELECT qs.qid, e2.vec_id AS cid,
               CAST(list_sum(list_transform(range(1, len(qs.q) + 1), i ->
                 (qs.q[i] - e2.q[i]) * (qs.q[i] - e2.q[i]))) AS BIGINT) AS d
             FROM (SELECT vec_id AS qid, q FROM e WHERE vec_id < 10) qs
             CROSS JOIN e e2 WHERE qid <> e2.vec_id),
      tr AS (SELECT qid, cid FROM ts
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d, cid) <= 5)
      SELECT t.qid AS qid, count(*) AS n_truth,
             CAST(count(CASE WHEN s.rk <= 5 THEN 1 END) AS BIGINT) AS hits_adc5,
             (1000 * count(CASE WHEN s.rk <= 5 THEN 1 END)) // count(*) AS recall_adc5_permille,
             CAST(count(CASE WHEN s.rk <= 50 THEN 1 END) AS BIGINT) AS hits_rerank50,
             (1000 * count(CASE WHEN s.rk <= 50 THEN 1 END)) // count(*) AS recall_rerank50_permille
      FROM tr t LEFT JOIN sl s ON t.qid = s.qid AND t.cid = s.cid
      GROUP BY t.qid ORDER BY t.qid"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "embeddings").select(col("vec_id"),
          Similarity.srpQuantize(col("embedding")).as("q"))
        val cb = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("code"), col("q").as("cq"))
        val codes = Similarity.pqCodes(e, cb, m = 8, dsub = 8)
          .select(col("vec_id"), col("sub_j"), col("code"))
        val lut = Similarity.pqLut(e.filter(col("vec_id") < 10), cb, m = 8, dsub = 8)
        val adc = broadcast(lut).join(codes, Seq("sub_j", "code"))
          .filter(col("qid") =!= col("vec_id"))
          .groupBy(col("qid"), col("vec_id").as("cid"))
          .agg(sum(col("d")).cast("long").as("adc_dist"))
        val sl = adc.withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("adc_dist"), col("cid"))))
        val qs = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("q").as("qq"))
        val ts = broadcast(qs)
          .crossJoin(e.select(col("vec_id").as("cid"), col("q").as("cq2")))
          .filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            aggregate(zip_with(col("qq"), col("cq2"), (x, y) => (x - y) * (x - y)),
              lit(0L), (acc, x) => acc + x).as("d"))
        val tr = ts.withColumn("trk", row_number().over(
            Window.partitionBy("qid").orderBy(col("d"), col("cid"))))
          .filter(col("trk") <= 5).select("qid", "cid")
        tr.join(sl.select("qid", "cid", "rk"), Seq("qid", "cid"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("n_truth"),
            count(when(col("rk") <= 5, 1)).as("hits_adc5"),
            count(when(col("rk") <= 50, 1)).as("hits_rerank50"))
          .select(col("qid"), col("n_truth"),
            col("hits_adc5"),
            expr("div(1000 * hits_adc5, n_truth)").as("recall_adc5_permille"),
            col("hits_rerank50"),
            expr("div(1000 * hits_rerank50, n_truth)").as("recall_rerank50_permille"))
          .orderBy("qid")
      }),

    // IVF+ADC (the composed FAISS-style index): coarse IVF restricts
    // candidates to the query's cell (here the precomputed label
    // cell, as in q_embed_ann_ivf), then PQ asymmetric distance
    // ranks WITHIN the cell — top-5 per query by integer ADC, cid
    // tiebreak. The scale story is multiplicative: the cell prunes
    // the corpus ~|cells|-fold AND each surviving candidate costs 8
    // code lookups instead of a 64-lane float scan; with the corpus
    // written partitioned by cell, the probe prunes at the directory
    // and reads an 8-byte code column. One broadcast LUT equi-join
    // on (cell, sub_j, code) + per-(qid,cid) re-agg + rank window.
    QDef("q_embed_ivfadc", Some("""
      WITH e AS (SELECT vec_id, label, list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
      cent AS (SELECT vec_id AS code, q AS cq FROM e WHERE vec_id < 16),
      sub AS (SELECT vec_id, label, q, unnest(range(0, 8)) AS j FROM e),
      sc AS (SELECT vec_id, label, j, code,
               CAST(list_sum(list_transform(range(1, 9), i ->
                 (q[j*8 + i] - cq[j*8 + i]) * (q[j*8 + i] - cq[j*8 + i]))) AS BIGINT) AS dist
             FROM sub CROSS JOIN cent),
      codes AS (SELECT vec_id, label AS cell, CAST(j AS BIGINT) AS sub_j,
                       CAST(code AS BIGINT) AS code
                FROM sc QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1),
      lut AS (SELECT vec_id AS qid, label AS cell, CAST(j AS BIGINT) AS sub_j,
                     CAST(code AS BIGINT) AS code, dist AS d
              FROM sc WHERE vec_id < 10),
      adc AS (SELECT qid, codes.vec_id AS cid, CAST(sum(d) AS BIGINT) AS adc_dist
              FROM lut JOIN codes USING (cell, sub_j, code)
              WHERE qid <> codes.vec_id GROUP BY qid, cid),
      r AS (SELECT qid, cid, adc_dist,
              CAST(row_number() OVER (PARTITION BY qid ORDER BY adc_dist, cid) AS BIGINT) AS rank
            FROM adc)
      SELECT qid, cid, adc_dist, rank FROM r WHERE rank <= 5
      ORDER BY qid, rank"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "embeddings").select(col("vec_id"),
          col("label").cast("long").as("cell"),
          Similarity.srpQuantize(col("embedding")).as("q"))
        val cb = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("code"), col("q").as("cq"))
        val codes = Similarity.pqCodes(e, cb, m = 8, dsub = 8)
          .join(e.select(col("vec_id"), col("cell")), "vec_id")
          .select(col("vec_id"), col("cell"), col("sub_j"), col("code"))
        val lut = Similarity.pqLut(e.filter(col("vec_id") < 10), cb, m = 8, dsub = 8)
          .join(e.select(col("vec_id").as("qid"), col("cell")), "qid")
        val adc = broadcast(lut).join(codes, Seq("cell", "sub_j", "code"))
          .filter(col("qid") =!= col("vec_id"))
          .groupBy(col("qid"), col("vec_id").as("cid"))
          .agg(sum(col("d")).cast("long").as("adc_dist"))
        val w = Window.partitionBy("qid").orderBy(col("adc_dist"), col("cid"))
        adc.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .orderBy("qid", "rank")
      }),

    // VECTOR-LAKE LIFECYCLE AUDIT (the embeddings-side q_curate_audit):
    // ingest → component-spike hygiene gate (max |qᵢ| ≤ 0.42 in micro
    // units — the corrupted-embedding heuristic; drops ~4% here) →
    // IVF cell census → PQ encode → end-to-end IVF+ADC recall@5
    // against exact integer-L2 truth ON THE GATED SET, one metrics
    // row per stage. This is the whole-chain statement for the vector
    // surface: any stage regression (gate drift, missing cells, code
    // rows, recall collapse) flips ONE oracle-checked number. All
    // counts and the recall are born-integer.
    QDef("q_vector_lake_audit", Some("""
      WITH e AS (SELECT vec_id, label, list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
      k AS (SELECT * FROM e
            WHERE list_max(list_transform(q, x -> abs(x))) <= 420000),
      cent AS (SELECT vec_id AS code, q AS cq FROM k WHERE vec_id < 16),
      sub AS (SELECT vec_id, label, q, unnest(range(0, 8)) AS j FROM k),
      sc AS (SELECT vec_id, label, j, code,
               CAST(list_sum(list_transform(range(1, 9), i ->
                 (q[j*8 + i] - cq[j*8 + i]) * (q[j*8 + i] - cq[j*8 + i]))) AS BIGINT) AS dist
             FROM sub CROSS JOIN cent),
      codes AS (SELECT vec_id, label AS cell, CAST(j AS BIGINT) AS sub_j,
                       CAST(code AS BIGINT) AS code
                FROM sc QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) = 1),
      lut AS (SELECT vec_id AS qid, label AS cell, CAST(j AS BIGINT) AS sub_j,
                     CAST(code AS BIGINT) AS code, dist AS d
              FROM sc WHERE vec_id < 10),
      adc AS (SELECT qid, codes.vec_id AS cid, CAST(sum(d) AS BIGINT) AS adc_dist
              FROM lut JOIN codes USING (cell, sub_j, code)
              WHERE qid <> codes.vec_id GROUP BY qid, cid),
      ar AS (SELECT qid, cid FROM adc
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc_dist, cid) <= 5),
      ts AS (SELECT qs.qid, k2.vec_id AS cid,
               CAST(list_sum(list_transform(range(1, len(qs.q) + 1), i ->
                 (qs.q[i] - k2.q[i]) * (qs.q[i] - k2.q[i]))) AS BIGINT) AS d
             FROM (SELECT vec_id AS qid, q FROM k WHERE vec_id < 10) qs
             CROSS JOIN k k2 WHERE qid <> k2.vec_id),
      tr AS (SELECT qid, cid FROM ts
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d, cid) <= 5),
      h AS (SELECT count(*) AS hits FROM ar JOIN tr USING (qid, cid))
      SELECT '1_ingest' AS stage, count(*) AS value FROM e
      UNION ALL SELECT '2_spike_gate', count(*) FROM k
      UNION ALL SELECT '3_cells', count(DISTINCT label) FROM k
      UNION ALL SELECT '4_pq_code_rows', count(*) FROM codes
      UNION ALL SELECT '5_truth_pairs', count(*) FROM tr
      UNION ALL SELECT '6_adc_hits5', (SELECT hits FROM h)
      UNION ALL SELECT '7_recall_permille',
        (1000 * (SELECT hits FROM h)) // greatest((SELECT count(*) FROM tr), 1)
      ORDER BY stage"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "embeddings").select(col("vec_id"),
          col("label").cast("long").as("cell"),
          Similarity.srpQuantize(col("embedding")).as("q"))
        val k = e.filter(array_max(transform(col("q"), abs(_))) <= 420000L)
        val cb = k.filter(col("vec_id") < 16)
          .select(col("vec_id").as("code"), col("q").as("cq"))
        val codes = Similarity.pqCodes(k, cb, m = 8, dsub = 8)
          .join(k.select(col("vec_id"), col("cell")), "vec_id")
        val lut = Similarity.pqLut(k.filter(col("vec_id") < 10), cb, m = 8, dsub = 8)
          .join(k.select(col("vec_id").as("qid"), col("cell")), "qid")
        val adc = broadcast(lut)
          .join(codes.select(col("vec_id"), col("cell"), col("sub_j"), col("code")),
            Seq("cell", "sub_j", "code"))
          .filter(col("qid") =!= col("vec_id"))
          .groupBy(col("qid"), col("vec_id").as("cid"))
          .agg(sum(col("d")).cast("long").as("adc_dist"))
        val ar = adc.withColumn("rk", row_number().over(
            Window.partitionBy("qid").orderBy(col("adc_dist"), col("cid"))))
          .filter(col("rk") <= 5).select("qid", "cid")
        val qs = k.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("q").as("qq"))
        val tr = broadcast(qs)
          .crossJoin(k.select(col("vec_id").as("cid"), col("q").as("cq2")))
          .filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            aggregate(zip_with(col("qq"), col("cq2"), (x, y) => (x - y) * (x - y)),
              lit(0L), (acc, x) => acc + x).as("d"))
          .withColumn("trk", row_number().over(
            Window.partitionBy("qid").orderBy(col("d"), col("cid"))))
          .filter(col("trk") <= 5).select("qid", "cid")
        def metric(stage: String, v: org.apache.spark.sql.DataFrame) =
          v.select(lit(stage).as("stage"), col("value"))
        val hits = ar.join(tr, Seq("qid", "cid"))
          .agg(count(lit(1)).as("hits"))
        val nTruth = tr.agg(count(lit(1)).as("nt"))
        metric("1_ingest", e.agg(count(lit(1)).cast("long").as("value")))
          .union(metric("2_spike_gate", k.agg(count(lit(1)).cast("long").as("value"))))
          .union(metric("3_cells", k.agg(countDistinct(col("cell")).cast("long").as("value"))))
          .union(metric("4_pq_code_rows", codes.agg(count(lit(1)).cast("long").as("value"))))
          .union(metric("5_truth_pairs", tr.agg(count(lit(1)).cast("long").as("value"))))
          .union(metric("6_adc_hits5", hits.select(col("hits").cast("long").as("value"))))
          .union(metric("7_recall_permille",
            hits.crossJoin(nTruth)
              .select(expr("div(1000 * hits, greatest(nt, 1L))").cast("long").as("value"))))
          .orderBy("stage")
      }),

    // SRP (signed-random-projection / hyperplane) LSH signatures: the
    // DATA-INDEPENDENT coarse quantizer complementing the trained IVF
    // path — no centroid state, no training pass, reproducible from
    // the shared integer LCG hyperplane table alone (Similarity
    // .srpSignature). Components quantize to micro FIRST, so every
    // per-plane dot is pure BIGINT — no float enters the signature.
    // One narrow zero-shuffle projection; at 100 TB the signature is
    // one BIGINT column persisted next to the vector.
    QDef("q_embed_srp_sig", Some("""
      WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
      s AS (SELECT vec_id,
        CAST(list_sum(list_transform(range(0, 32), p ->
          CASE WHEN list_sum(list_transform(range(1, len(q) + 1), i ->
                 ((CAST(1103515245 AS BIGINT) * (p * 64 + i - 1) + 12345) % 2048 - 1024) * q[i])) >= 0
               THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS sig
        FROM e)
      SELECT vec_id, sig,
             (sig // 1) % 256 AS band0, (sig // 256) % 256 AS band1,
             (sig // 65536) % 256 AS band2, (sig // 16777216) % 256 AS band3,
             CAST(bit_count(sig) AS BIGINT) AS popcnt
      FROM s ORDER BY vec_id"""),
      (s, d) => {
        t(s, d, "embeddings")
          .select(col("vec_id"), Similarity.srpSignature(col("embedding")).as("sig"))
          .select(col("vec_id"), col("sig"),
            shiftright(col("sig"), 0).bitwiseAND(lit(255L)).as("band0"),
            shiftright(col("sig"), 8).bitwiseAND(lit(255L)).as("band1"),
            shiftright(col("sig"), 16).bitwiseAND(lit(255L)).as("band2"),
            shiftright(col("sig"), 24).bitwiseAND(lit(255L)).as("band3"),
            bit_count(col("sig")).cast("long").as("popcnt"))
          .orderBy("vec_id")
      }),

    // SRP-LSH candidate pairs, ranked: band collisions (≥1 shared
    // 8-bit band of the 32-bit signature) scored by full-signature
    // hamming distance and the EXACT quantized dot product (pure
    // BIGINT, pico units — no float compare anywhere). The banded
    // equi-join is the scale path: candidates ∝ Σ per-bucket C(n,2),
    // ~6% of all-pairs on the test corpus, NEVER the full cross
    // product (cartesian-free, plan-asserted); dedup across bands is
    // a (ida, idb) groupBy of identical values. Spark dedups the two
    // identical band-explode subtrees under the self-join via
    // ReusedExchange — signatures compute once per execution.
    // Buckets past SrpBucketCap are dropped from the join (oracle
    // bkeep CTE mirrors): under a fixed 8-bit band width bucket
    // sizes grow ∝ N, so the uncapped Σ C(n,2) is quadratic — the
    // cap bounds it at buckets × C(cap,2) with the same one-sided
    // weakest-evidence argument as the MinHash maxBucket drop.
    // Bit-identical at tested SFs (sf0.1 max bucket 113 < 250).
    QDef("q_embed_srp_pairs", Some(s"""
      WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
      s AS (SELECT vec_id, q,
        CAST(list_sum(list_transform(range(0, 32), p ->
          CASE WHEN list_sum(list_transform(range(1, len(q) + 1), i ->
                 ((CAST(1103515245 AS BIGINT) * (p * 64 + i - 1) + 12345) % 2048 - 1024) * q[i])) >= 0
               THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS sig
        FROM e),
      bands AS (
        SELECT vec_id, sig, q, CAST(0 AS BIGINT) AS bi, (sig // 1) % 256 AS bv FROM s
        UNION ALL SELECT vec_id, sig, q, 1, (sig // 256) % 256 FROM s
        UNION ALL SELECT vec_id, sig, q, 2, (sig // 65536) % 256 FROM s
        UNION ALL SELECT vec_id, sig, q, 3, (sig // 16777216) % 256 FROM s),
      bkeep AS (SELECT bi, bv FROM bands GROUP BY bi, bv
                HAVING count(*) <= ${Similarity.SrpBucketCap}),
      kept AS (SELECT bands.* FROM bands JOIN bkeep USING (bi, bv)),
      hit AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
                CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
                CAST(list_sum(list_transform(list_zip(a.q, b.q), z -> z[1] * z[2])) AS BIGINT) AS dot_pico
              FROM kept a JOIN kept b USING (bi, bv)
              WHERE a.vec_id < b.vec_id),
      pairs AS (SELECT ida, idb, min(hamming) AS hamming, min(dot_pico) AS dot_pico
                FROM hit GROUP BY ida, idb)
      SELECT ida, idb, hamming, dot_pico FROM pairs
      ORDER BY hamming, dot_pico DESC, ida, idb LIMIT 50"""),
      (s, d) => {
        val sg = t(s, d, "embeddings").select(col("vec_id"),
          Similarity.srpQuantize(col("embedding")).as("q"),
          Similarity.srpSignature(col("embedding")).as("sig"))
        val bands = Similarity.srpBands(sg)
        // mega-bucket drop (SrpBucketCap): the keep list aggregates the
        // band table's own exchange (ReusedExchange — the corpus is
        // banded once) and is bucket-count-bounded, so it broadcasts
        val keep = bands.groupBy("bi", "bv").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= Similarity.SrpBucketCap).select("bi", "bv")
        val kept = bands.join(keep, Seq("bi", "bv"))
        val a = kept.select(col("bi"), col("bv"), col("vec_id").as("ida"),
          col("sig").as("siga"), col("q").as("qa"))
        val b = kept.select(col("bi"), col("bv"), col("vec_id").as("idb"),
          col("sig").as("sigb"), col("q").as("qb"))
        a.join(b, Seq("bi", "bv"))
          .filter(col("ida") < col("idb"))
          .select(col("ida"), col("idb"),
            bit_count(col("siga").bitwiseXOR(col("sigb"))).cast("long").as("hamming"),
            aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
              lit(0L), (acc, x) => acc + x).as("dot_pico"))
          .groupBy("ida", "idb")
          .agg(min(col("hamming")).as("hamming"), min(col("dot_pico")).as("dot_pico"))
          .orderBy(col("hamming"), col("dot_pico").desc, col("ida"), col("idb"))
          .limit(50)
      }),

    // MULTI-PROBE SRP tuning matrix (the LSH acceptance gate): for
    // probe depths 0/1/2 (exact band match, plus all 1-bit, plus all
    // 2-bit band flips — query-side ONLY, 4×37 probe rows per query,
    // the corpus band table is untouched), report candidate cost and
    // recall@5 against brute-force cosine truth. LSH prunes, EXACT
    // scoring ranks: candidates are ordered by the same rounded
    // cosine as the truth pass, so recall is the candidate-set recall
    // and is monotone in probe depth — on the test corpus the curve
    // is ~14-22% → ~46-52% → ~76-80% recall for ~4×/~10× candidate
    // cost, the classic multi-probe tradeoff (Lv et al. 2007). The
    // quadratic truth pass lives ONLY in this harness (bounded
    // broadcast build, like q_dedup_eval); the production path is the
    // banded equi-join + per-qid re-score.
    QDef("q_embed_srp_probe_eval", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   list_transform(CAST(embedding AS DOUBLE[]),
                     x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM embeddings),
      s AS (SELECT vec_id, v,
        CAST(list_sum(list_transform(range(0, 32), p ->
          CASE WHEN list_sum(list_transform(range(1, len(q) + 1), i ->
                 ((CAST(1103515245 AS BIGINT) * (p * 64 + i - 1) + 12345) % 2048 - 1024) * q[i])) >= 0
               THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS sig
        FROM e),
      qs AS (SELECT vec_id AS qid, v AS qv, sig AS qsig FROM s WHERE vec_id < 10),
      ts AS (SELECT qid, s.vec_id AS cid,
               (round(${cosineSql("qv", "s.v")}, 3) + 0.0) AS sim3
             FROM qs CROSS JOIN s WHERE qid <> s.vec_id),
      tr AS (SELECT qid, cid FROM ts
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 5),
      mk AS (SELECT CAST(unnest([${srpProbeMasks.mkString(", ")}]) AS BIGINT) AS mask),
      qb AS (SELECT qid, b.bi AS bi, xor((qsig // b.dv) % 256, mask) AS bv,
               CAST(bit_count(mask) AS BIGINT) AS probe_d
             FROM qs, $srpBandsSql, mk),
      cb AS (SELECT vec_id AS cid, b.bi AS bi, (sig // b.dv) % 256 AS bv
             FROM s, $srpBandsSql),
      hit AS (SELECT qid, cid, min(probe_d) AS min_probe
              FROM qb JOIN cb USING (bi, bv) WHERE qid <> cid GROUP BY qid, cid),
      cc AS (SELECT CAST(unnest(range(min_probe, 3)) AS BIGINT) AS cfg,
                    hit.qid AS qid, hit.cid AS cid, sim3
             FROM hit JOIN ts ON ts.qid = hit.qid AND ts.cid = hit.cid),
      ar AS (SELECT cfg, qid, cid FROM cc
             QUALIFY row_number() OVER (PARTITION BY cfg, qid ORDER BY sim3 DESC, cid) <= 5),
      hits AS (SELECT cfg, count(*) AS n_hit
               FROM ar JOIN tr USING (qid, cid) GROUP BY cfg),
      cost AS (SELECT cfg, count(*) AS n_cand FROM cc GROUP BY cfg),
      nt AS (SELECT count(*) AS n_truth FROM tr)
      SELECT c.cfg AS probe_hamming, coalesce(n_cand, 0) AS n_cand, n_truth,
             coalesce(n_hit, 0) AS n_hit,
             (1000 * coalesce(n_hit, 0)) // n_truth AS recall_permille
      FROM (SELECT CAST(range AS BIGINT) AS cfg FROM range(3)) c
      CROSS JOIN nt
      LEFT JOIN cost ON c.cfg = cost.cfg LEFT JOIN hits ON c.cfg = hits.cfg
      ORDER BY c.cfg"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sg = t(s, d, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"),
          Similarity.srpSignature(col("embedding")).as("sig"))
        val qs = sg.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
          col("v").as("qv"), col("sig").as("qsig"))
        val ts = broadcast(qs.select("qid", "qv"))
          .crossJoin(sg.select(col("vec_id").as("cid"), col("v").as("cv")))
          .filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            round(Similarity.cosine(col("qv"), col("cv")), 3).as("sim3"))
        val wT = Window.partitionBy("qid").orderBy(col("sim3").desc, col("cid"))
        val tr = ts.withColumn("rk", row_number().over(wT))
          .filter(col("rk") <= 5).select("qid", "cid")
        // query-side probe expansion: 4 bands × 37 masks per query
        val probes = for {
          j <- 0 until Similarity.SrpBands; m <- srpProbeMasks
        } yield (j.toLong * Similarity.SrpBandBits, m.toLong,
          java.lang.Long.bitCount(m.toLong).toLong)
        val qb = qs.select(col("qid"), col("qsig"),
            explode(typedLit(probes)).as("p"))
          .select(col("qid"), (col("p._1") / 8).cast("long").as("bi"),
            call_function("shiftright", col("qsig"), col("p._1").cast("int"))
              .bitwiseAND(lit(255L)).bitwiseXOR(col("p._2")).as("bv"),
            col("p._3").as("probe_d"))
        val cb = Similarity.srpBands(sg.select(col("vec_id").as("cid"), col("sig")))
          .select(col("cid"), col("bi"), col("bv"))
        val hit = qb.join(cb, Seq("bi", "bv"))
          .filter(col("qid") =!= col("cid"))
          .groupBy("qid", "cid").agg(min(col("probe_d")).as("min_probe"))
        val cc = hit.join(ts, Seq("qid", "cid"))
          .select(explode(sequence(col("min_probe"), lit(2L))).as("cfg"),
            col("qid"), col("cid"), col("sim3"))
        val wA = Window.partitionBy("cfg", "qid").orderBy(col("sim3").desc, col("cid"))
        val ar = cc.withColumn("rk", row_number().over(wA))
          .filter(col("rk") <= 5).select("cfg", "qid", "cid")
        val hits = ar.join(tr, Seq("qid", "cid")).groupBy("cfg")
          .agg(count(lit(1)).as("n_hit"))
        val cost = cc.groupBy("cfg").agg(count(lit(1)).as("n_cand"))
        val nt = tr.agg(count(lit(1)).as("n_truth"))
        s.range(3).select(col("id").as("cfg"))
          .crossJoin(broadcast(nt))
          .join(cost, Seq("cfg"), "left").join(hits, Seq("cfg"), "left")
          .select(col("cfg").as("probe_hamming"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"), col("n_truth"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            expr("div(1000 * coalesce(n_hit, 0L), n_truth)").as("recall_permille"))
          .orderBy("probe_hamming")
      }),

    // Embedding-cosine near-dup pairs: vector pairs above a high
    // similarity bar — the EXACTNESS REFERENCE for the celled ANN
    // path below, run on a declared 1-in-5 sample of the fixed
    // PILOT prefix (vec_id < PilotVecCap: a reference pass is a
    // pilot, and its quadratic term must be O(1) in corpus size —
    // the uncapped fraction sample grew 28× on 10× data in the r13
    // slope sweep). The all-pairs expansion is structurally bounded:
    // the right side is broadcast, so the plan is a
    // BroadcastNestedLoopJoin over a bounded build side (zero
    // shuffles, cost O(|left|·|sample|)), never a shuffled
    // n²-partition CartesianProduct — and at scale the broadcast
    // build cap makes an unbounded "sample" fail fast at build time
    // instead of silently launching n². Asserted in ScalePlanSpec.
    QDef("q_dedup_embed_cosine", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                 WHERE vec_id % 5 = 0
                   AND vec_id < ${graft.text.NearDup.PilotVecCap}),
      p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   (round(${cosineSql("a.v", "b.v")}, 3) + 0.0) AS sim3
            FROM e a JOIN e b ON a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, sim3 FROM p WHERE sim3 >= 0.35 ORDER BY vec_a, vec_b"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .filter(col("vec_id") % 5 === 0 &&
            col("vec_id") < graft.text.NearDup.PilotVecCap)
          .select(col("vec_id"), col("embedding").as("v"))
        val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
        a.join(broadcast(b), col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            round(Similarity.cosine(col("va"), col("vb")), 3).as("sim3"))
          // 0.35 sits in the upper tail of the synthetic corpus's
          // similarity distribution (max ≈ 0.51) — high enough to be
          // a near-dup bar, low enough to produce matches.
          .filter(col("sim3") >= 0.35)
          .orderBy("vec_a", "vec_b")
      }),

    // Scale-safe embedding near-dup: candidate pairs come from an
    // IVF cell EQUI-join, not an all-pairs crossJoin. Every vector is
    // assigned to its argmax-cosine centroid (a narrow per-row argmax
    // over driver-inlined literals — see Similarity.ivfAssign), and
    // pairs are generated only within a cell: the join shuffles on
    // `cell` and the pair count is Σ n_cell² instead of n². At 100 TB
    // the assigned corpus is written partitioned by cell, so this is
    // a co-located self-join. Recall tradeoff (cross-cell near-dups
    // are missed) is inherent to blocked dedup; q_dedup_embed_cosine
    // above stays as the sampled exactness reference.
    QDef("q_dedup_embed_ann", Some(s"""
      WITH $annPairCtes
      SELECT vec_a, vec_b, sim3 FROM p WHERE sim3 >= 0.35 ORDER BY vec_a, vec_b"""),
      (s, d) => annPairsDf(s, d).orderBy("vec_a", "vec_b")),

    // SEMANTIC dedup clusters end-to-end: the IVF-celled near-dup
    // pairs above feed connected components, so paraphrase chains
    // (a~b, b~c) collapse into one cluster even when a and c are
    // below the pair threshold themselves — the embedding-level
    // analog of q_dedup_cluster, sharing BOTH machineries that are
    // already plan-asserted (cartesian-free celled pair generation;
    // the iterative min-label CC loop with block release). Smallest
    // vec_id survives per cluster.
    QDef("q_dedup_semantic_cluster", Some(s"""
      WITH RECURSIVE $annPairCtes,
      pairs AS (SELECT vec_a, vec_b FROM p WHERE sim3 >= 0.35),
      nodes AS (SELECT vec_id FROM embeddings),
      edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
                UNION ALL SELECT vec_b, vec_a FROM pairs),
      reach AS (
        SELECT vec_id AS id, vec_id AS r FROM nodes
        UNION
        SELECT reach.id, g.dst FROM reach JOIN edges g ON g.src = reach.r)
      SELECT id AS vec_id, min(r) AS cluster_id,
             CASE WHEN min(r) = id THEN 1 ELSE 0 END AS is_survivor
      FROM reach GROUP BY id ORDER BY vec_id"""),
      (s, d) => {
        val nodes = t(s, d, "embeddings").select(col("vec_id"))
        val pairs = annPairsDf(s, d)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        graft.text.NearDup.connectedComponents(nodes, "vec_id", pairs)
          .withColumn("is_survivor",
            when(col("cluster_id") === col("vec_id"), 1).otherwise(0))
          .orderBy("vec_id")
      }),

    // kNN CLASSIFICATION eval: 5-NN majority vote over the labeled
    // embedding corpus for a held-out probe set, plurality with
    // (votes desc, label asc) tie-break, scored against the probe's
    // true label. The probe set broadcasts against one corpus scan
    // (bruteForceTopK's WindowGroupLimit keeps the shuffle at O(k)
    // rows per probe); the vote and the label joins are probe-sized.
    // The probe set is FIXED-SIZE (vec_id % 100 = 0 within the
    // PilotVecCap prefix): an eval set is a curated constant, not a
    // corpus fraction — with a % sample alone the broadcast scoring
    // term is N/100 × N (the r13 slope sweep's worst tail, 13.6× on
    // 10× data); capped, the scan is probes × N — linear, and the
    // expensive part is a single corpus pass regardless of k.
    // Bit-identical at tested SFs (every vec_id < cap there).
    QDef("q_knn_classify", Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS true_label, v AS qv
            FROM e WHERE vec_id % 100 = 0
              AND vec_id < ${graft.text.NearDup.PilotVecCap}),
      c AS (SELECT vec_id AS cid, CAST(label AS BIGINT) AS clabel, v AS cv
            FROM e WHERE vec_id % 100 <> 0 OR vec_id >= ${graft.text.NearDup.PilotVecCap}),
      s AS (SELECT qid, cid, clabel, (round($cosSql, 3) + 0.0) AS sim3 FROM q CROSS JOIN c),
      r AS (SELECT qid, clabel, sim3, cid,
            row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) AS rank
            FROM s),
      votes AS (SELECT qid, clabel, count(*) AS n, min(rank) AS best
                FROM r WHERE rank <= 5 GROUP BY 1, 2),
      pred AS (SELECT qid, clabel AS pred_label FROM votes
               QUALIFY row_number() OVER (PARTITION BY qid ORDER BY n DESC, clabel) = 1)
      SELECT q.qid, q.true_label, p.pred_label,
             CASE WHEN q.true_label = p.pred_label THEN 1 ELSE 0 END AS correct
      FROM q JOIN pred p USING (qid) ORDER BY qid"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("lab"),
            col("embedding").as("v"))
        val q = e.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < graft.text.NearDup.PilotVecCap)
          .select(col("vec_id").as("qid"), col("lab").as("true_label"),
            col("v").as("qv"))
        val c = e.filter(col("vec_id") % 100 =!= 0 ||
            col("vec_id") >= graft.text.NearDup.PilotVecCap)
          .select(col("vec_id").as("cid"), col("lab").as("clabel"),
            col("v").as("cv"))
        val top = Similarity.bruteForceTopK(c.drop("clabel"), q.drop("true_label"), 5)
          .join(broadcast(c.select(col("cid"), col("clabel"))), "cid")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("n").desc, col("clabel"))
        val pred = top.groupBy("qid", "clabel").agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("qid"), col("clabel").as("pred_label"))
        q.select(col("qid"), col("true_label"))
          .join(pred, "qid")
          .withColumn("correct",
            when(col("true_label") === col("pred_label"), 1).otherwise(0))
          .orderBy("qid")
      }),

    // HARD-PAIR MINING for metric learning: per probe, the hardest
    // positive (most-similar same-label) and hardest negative
    // (most-similar other-label) corpus vectors, plus the milli
    // margin between them — negative margin = the probe's neighbor-
    // hood is dominated by another class, exactly the pairs a
    // contrastive/triplet trainer wants. ONE broadcast-probe corpus
    // scan scores everything; both argmaxes are rank-1 windows
    // (WindowGroupLimit: map-side reduction before the qid shuffle).
    // Probe set fixed-size like q_knn_classify (PilotVecCap prefix):
    // mining batches are drawn per training step, not as a corpus
    // fraction — the cap turns the N/100 × N broadcast term (11.4×
    // on 10× data in the r13 slope sweep) into probes × N, linear.
    QDef("q_hard_negative_mining", Some(s"""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lab, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, lab AS qlab, v AS qv FROM e
            WHERE vec_id % 100 = 0
              AND vec_id < ${graft.text.NearDup.PilotVecCap}),
      c AS (SELECT vec_id AS cid, lab AS clab, v AS cv FROM e WHERE vec_id % 100 <> 0 OR vec_id >= ${graft.text.NearDup.PilotVecCap}),
      s AS (SELECT qid, qlab, cid, clab, (round($cosSql, 3) + 0.0) AS sim3 FROM q CROSS JOIN c),
      hp AS (SELECT qid, cid, sim3 FROM s WHERE clab = qlab
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) = 1),
      hn AS (SELECT qid, cid, sim3 FROM s WHERE clab <> qlab
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) = 1)
      SELECT q.qid, q.qlab, hp.cid AS pos_id, hn.cid AS neg_id,
             CAST(round(1000 * hp.sim3) AS BIGINT)
               - CAST(round(1000 * hn.sim3) AS BIGINT) AS margin_milli
      FROM q JOIN hp ON q.qid = hp.qid JOIN hn ON q.qid = hn.qid
      ORDER BY q.qid"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("lab"),
            col("embedding").as("v"))
        val q = e.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < graft.text.NearDup.PilotVecCap)
          .select(col("vec_id").as("qid"), col("lab").as("qlab"), col("v").as("qv"))
        val c = e.filter(col("vec_id") % 100 =!= 0 ||
            col("vec_id") >= graft.text.NearDup.PilotVecCap)
          .select(col("vec_id").as("cid"), col("lab").as("clab"), col("v").as("cv"))
        val scored = broadcast(q).crossJoin(c)
          .select(col("qid"), col("qlab"), col("cid"), col("clab"),
            round(Similarity.cosine(col("qv"), col("cv")), 3).as("sim3"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("sim3").desc, col("cid").asc)
        def rank1(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        val hp = rank1(scored.filter(col("clab") === col("qlab")))
          .select(col("qid"), col("cid").as("pos_id"), col("sim3").as("ps"))
        val hn = rank1(scored.filter(col("clab") =!= col("qlab")))
          .select(col("qid"), col("cid").as("neg_id"), col("sim3").as("ns"))
        q.select(col("qid"), col("qlab")).join(hp, "qid").join(hn, "qid")
          .select(col("qid"), col("qlab"), col("pos_id"), col("neg_id"),
            (round(col("ps") * 1000).cast("long")
              - round(col("ns") * 1000).cast("long")).as("margin_milli"))
          .orderBy("qid")
      }),

    // SEMANTIC DECONTAMINATION: the embedding-space complement of
    // q_decontam_ngram — per corpus vector, the nearest EVAL-SET
    // vector by rounded cosine (smaller eval id tiebreak) and a
    // contaminated flag at sim ≥ 0.5; n-gram decontam misses
    // paraphrased eval leakage, this face catches it. Same linear
    // shape as the kNN eval gates: the fixed-size eval set
    // (PilotVecCap-prefix multiples of 100 — an eval set is a
    // curated constant) broadcasts against ONE corpus scan, and the
    // argmax is a rank-1 window (WindowGroupLimit map-side
    // reduction) — probes × N, never N².
    QDef("q_decontam_embed", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS eid, v AS qv FROM e
            WHERE vec_id % 100 = 0
              AND vec_id < ${graft.text.NearDup.PilotVecCap}),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 100 <> 0 OR vec_id >= ${graft.text.NearDup.PilotVecCap}),
      s AS (SELECT cid, eid, (round($cosSql, 3) + 0.0) AS sim3 FROM c CROSS JOIN q),
      top AS (SELECT cid, eid, sim3 FROM s
              QUALIFY row_number() OVER (PARTITION BY cid
                ORDER BY sim3 DESC, eid) = 1)
      SELECT cid AS vec_id, eid AS nearest_eval_id, sim3 AS max_sim3,
             CASE WHEN sim3 >= 0.5 THEN 1 ELSE 0 END AS contaminated
      FROM top ORDER BY vec_id"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val q = e.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < graft.text.NearDup.PilotVecCap)
          .select(col("vec_id").as("eid"), col("v").as("qv"))
        val c = e.filter(col("vec_id") % 100 =!= 0 ||
            col("vec_id") >= graft.text.NearDup.PilotVecCap)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cid").orderBy(col("sim3").desc, col("eid"))
        c.crossJoin(broadcast(q))
          .select(col("cid"), col("eid"),
            round(Similarity.cosine(col("cv"), col("qv")), 3).as("sim3"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("cid").as("vec_id"), col("eid").as("nearest_eval_id"),
            col("sim3").as("max_sim3"),
            when(col("sim3") >= 0.5, 1).otherwise(0).as("contaminated"))
          .orderBy("vec_id")
      }),

    // CONTAMINATION RATE BY LABEL: q_decontam_embed rolled up to the
    // report a benchmark owner actually reads — per label (the class/
    // task proxy): corpus size, contaminated count at sim ≥ 0.5, rate
    // permille, and the label's worst similarity. A label with an
    // outlier rate means its eval split leaks into training data
    // systematically (template reuse, shared source), not randomly —
    // the signal for re-drawing that split. Same linear probes × N
    // scan; the rollup adds one |labels|-sized aggregate.
    QDef("q_contam_rate_by_label", Some(s"""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lab,
                   CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS eid, v AS qv FROM e
            WHERE vec_id % 100 = 0
              AND vec_id < ${graft.text.NearDup.PilotVecCap}),
      c AS (SELECT vec_id AS cid, lab, v AS cv FROM e WHERE vec_id % 100 <> 0 OR vec_id >= ${graft.text.NearDup.PilotVecCap}),
      s AS (SELECT cid, lab, (round($cosSql, 3) + 0.0) AS sim3 FROM c CROSS JOIN q),
      top AS (SELECT cid, lab, max(sim3) AS max_sim3 FROM s GROUP BY cid, lab)
      SELECT lab AS label, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(CASE WHEN max_sim3 >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
             CAST((1000 * sum(CASE WHEN max_sim3 >= 0.5 THEN 1 ELSE 0 END))
               // count(*) AS BIGINT) AS rate_permille,
             (max(max_sim3) + 0.0) AS worst_sim3
      FROM top GROUP BY lab ORDER BY label"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("lab"),
            col("embedding").as("v"))
        val q = e.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") < graft.text.NearDup.PilotVecCap)
          .select(col("vec_id").as("eid"), col("v").as("qv"))
        val c = e.filter(col("vec_id") % 100 =!= 0 ||
            col("vec_id") >= graft.text.NearDup.PilotVecCap)
          .select(col("vec_id").as("cid"), col("lab"), col("v").as("cv"))
        c.crossJoin(broadcast(q))
          .select(col("cid"), col("lab"),
            round(Similarity.cosine(col("cv"), col("qv")), 3).as("sim3"))
          .groupBy("cid", "lab").agg(max("sim3").as("max_sim3"))
          .groupBy("lab")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("max_sim3") >= 0.5, 1L).otherwise(0L)).cast("long")
              .as("n_contaminated"),
            max("max_sim3").as("worst_sim3"))
          .select(col("lab").as("label"), col("n_vecs"), col("n_contaminated"),
            expr("div(1000 * n_contaminated, n_vecs)").as("rate_permille"),
            col("worst_sim3"))
          .orderBy("label")
      }),

    // IVF CELL-BALANCE AUDIT: the load-balance health check every
    // IVF deployment watches — over the SAME scaled cell assignment
    // the ANN faces search (annPairCtes' assigned), the cell-size
    // distribution in one row: cell count, corpus size, min/max cell,
    // and imbalance = max_cell · k / N in milli (1000 = perfectly
    // balanced; the within-cell pair term and per-cell probe cost
    // both scale with the WORST cell, so imbalance is the multiplier
    // on every Σ n_cell² argument this engine makes). One
    // cell-keyed aggregate over the assignment — no pair join.
    QDef("q_ann_cell_balance", Some(s"""
      WITH $annPairCtes,
      cs AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY cell)
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(n) AS BIGINT) AS n_vecs,
             CAST(min(n) AS BIGINT) AS min_cell,
             CAST(max(n) AS BIGINT) AS max_cell,
             CAST((1000 * max(n) * count(*)) // sum(n) AS BIGINT) AS imbalance_milli
      FROM cs"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val n: Long = corpusCountMemo.computeIfAbsent(
          s -> d, _ => e.count())
        val kCells = Similarity.ivfCellCount(n)
        val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"))
        val centroids = e.filter(col("vec_id") < kCells)
          .select(col("vec_id").as("cell"), col("v").as("centv"))
        Similarity.ivfAssign(corpus, centroids)
          .groupBy("cell").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_cells"), sum("n").cast("long").as("n_vecs"),
            min("n").cast("long").as("min_cell"),
            max("n").cast("long").as("max_cell"))
          .select(col("n_cells"), col("n_vecs"), col("min_cell"), col("max_cell"),
            expr("div(1000 * max_cell * n_cells, n_vecs)").as("imbalance_milli"))
      }),

    // SEMANTIC-DEDUP THRESHOLD SWEEP: the embedding-level analog of
    // q_jaccard_threshold_sweep — over the IVF-celled ANN pair table
    // (the SAME bounded candidate machinery as q_dedup_embed_ann),
    // flagged pairs and the distinct-vec_b removal estimate at
    // cosine ≥ {0.35, 0.5, 0.65, 0.8}. The policy curve a curation
    // review reads before fixing THE semantic-dedup threshold.
    // Similarities quantize to permille ONCE (round(sim3·1000) — an
    // integer-valued double, exact in both engines) so the sweep
    // compares integers; one pair pass, four conditional sums.
    QDef("q_semdedup_threshold_sweep", Some(s"""
      WITH $annPairCtes,
      pm AS (SELECT vec_b, CAST(round(sim3 * 1000) AS BIGINT) AS sim_pm
             FROM p WHERE sim3 >= 0.35),
      th AS (SELECT 350 AS tpm UNION ALL SELECT 500
             UNION ALL SELECT 650 UNION ALL SELECT 800)
      SELECT CAST(th.tpm AS BIGINT) AS threshold_permille,
             CAST(sum(CASE WHEN pm.sim_pm >= th.tpm THEN 1 ELSE 0 END)
               AS BIGINT) AS n_flagged,
             CAST(count(DISTINCT CASE WHEN pm.sim_pm >= th.tpm
               THEN pm.vec_b END) AS BIGINT) AS est_vecs_dropped
      FROM th CROSS JOIN pm GROUP BY 1 ORDER BY threshold_permille"""),
      (s, d) => {
        val pm = annPairsDf(s, d)
          .select(col("vec_b"), round(col("sim3") * 1000).cast("long").as("sim_pm"))
        val hit = col("sim_pm") >= col("tpm")
        pm.select(col("vec_b"), col("sim_pm"),
            explode(array(Seq(350, 500, 650, 800).map(x => lit(x.toLong)): _*))
              .as("tpm"))
          .groupBy("tpm")
          .agg(sum(when(hit, 1L).otherwise(0L)).cast("long").as("n_flagged"),
            countDistinct(when(hit, col("vec_b"))).as("est_vecs_dropped"))
          .select(col("tpm").cast("long").as("threshold_permille"),
            col("n_flagged"), col("est_vecs_dropped"))
          .orderBy("threshold_permille")
      }),

    // CLASS-MARGIN separability readout: per vector, squared L2 to
    // its OWN label centroid vs the NEAREST other-label centroid —
    // the per-example Fisher-style margin that tells an embedding
    // trainer which classes bleed into which (negative margin =
    // the vector sits closer to a foreign centroid; aggregate these
    // and you have the confusion structure before any classifier).
    // Exact integer end-to-end: lanes micro-quantized then SHIFTED
    // +1e6 so every value is non-negative (offsets cancel inside
    // distances, and DuckDB's floor-`//` equals Spark's truncating
    // `div` only on non-negatives — same trap class as the round-7
    // statistics reds, dodged by construction); centroids are
    // round-half-up exact-integer means, (2s+n) div (2n). Shape:
    // one lane-exploded aggregate builds the |labels|-sized centroid
    // table (bounded dim → broadcast), then a narrow per-row
    // zip_with distance against each centroid — never a
    // vector-vector join.
    QDef("q_embed_class_margin", Some("""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          list_transform(CAST(embedding AS DOUBLE[]),
            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT) + 1000000) AS q
        FROM embeddings WHERE len(embedding) = 64),
      l AS (SELECT label, i, CAST(sum(q[CAST(i AS INTEGER)]) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n
            FROM e, range(1, 65) r(i) GROUP BY 1, 2),
      c AS (SELECT label AS clabel, i, (2 * s + n) // (2 * n) AS cv FROM l),
      d AS (SELECT e.vec_id, e.label, c.clabel,
              CAST(sum((e.q[CAST(c.i AS INTEGER)] - c.cv)
                     * (e.q[CAST(c.i AS INTEGER)] - c.cv)) AS BIGINT) AS d2
            FROM e, c GROUP BY 1, 2, 3),
      m AS (SELECT vec_id, label,
              min(CASE WHEN clabel = label THEN d2 END) AS d2_own,
              min(CASE WHEN clabel <> label THEN d2 END) AS d2_other
            FROM d GROUP BY 1, 2)
      SELECT vec_id, label, d2_own, d2_other, d2_other - d2_own AS margin,
             CAST(CASE WHEN d2_other > d2_own THEN 1 ELSE 0 END AS BIGINT) AS separable
      FROM m ORDER BY vec_id"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .filter(size(col("embedding")) === 64)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            transform(col("embedding").cast("array<double>"),
              x => floor(x * lit(1000000.0) + lit(0.5)).cast("long") + lit(1000000L))
              .as("q"))
        val cent = e.select(col("label"), posexplode(col("q")).as(Seq("i", "v")))
          .groupBy("label", "i")
          .agg(sum("v").cast("long").as("s"), count(lit(1)).as("n"))
          .select(col("label"), col("i"), expr("div(2 * s + n, 2 * n)").as("cv"))
          .groupBy(col("label").as("clabel"))
          .agg(transform(array_sort(collect_list(struct(col("i"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
        e.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("label"), col("clabel"),
            aggregate(zip_with(col("q"), col("cvec"), (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x).as("d2"))
          .groupBy("vec_id", "label")
          .agg(min(when(col("clabel") === col("label"), col("d2"))).as("d2_own"),
            min(when(col("clabel") =!= col("label"), col("d2"))).as("d2_other"))
          .select(col("vec_id"), col("label"), col("d2_own"), col("d2_other"),
            (col("d2_other") - col("d2_own")).as("margin"),
            when(col("d2_other") > col("d2_own"), 1L).otherwise(0L).as("separable"))
          .orderBy("vec_id")
      }),

    // MATRYOSHKA PREFIX-DIM RECALL (Kusupati 2022): how much of the
    // full-64-dim cosine top-5 does a 16-dim PREFIX ranking recover?
    // MRL-trained embeddings put the signal mass in the leading
    // dims, so serving can score d/4 lanes and rerank a shortlist —
    // this is the acceptance gate for that cutover, the prefix-slice
    // sibling of q_embed_pq_rerank_eval's code-space gate. Both
    // rankings are production operators (bruteForceTopK: rounded
    // sim3 + cid tiebreak, WindowGroupLimit before the exchange);
    // the prefix side scores slice(v, 1, 16) — the slice happens in
    // the projection, so the shuffled candidate rows carry 16 lanes,
    // not 64. Same bounded-query discipline as q_embed_recall_eval
    // (10 probes × corpus, broadcast).
    QDef("q_embed_prefix_recall", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, v AS cv FROM e),
      ts AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q CROSS JOIN c WHERE qid <> cid),
      tr AS (SELECT qid, cid FROM ts
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 5),
      qp AS (SELECT qid, qv[1:16] AS qv FROM q),
      cp AS (SELECT cid, cv[1:16] AS cv FROM c),
      ps AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM qp CROSS JOIN cp WHERE qid <> cid),
      pr AS (SELECT qid, cid FROM ps
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim3 DESC, cid) <= 5),
      ta AS (SELECT qid, count(*) AS n_truth FROM tr GROUP BY qid),
      h AS (SELECT t.qid, count(p.cid) AS hits FROM tr t
            LEFT JOIN pr p ON t.qid = p.qid AND t.cid = p.cid GROUP BY t.qid)
      SELECT ta.qid AS qid, n_truth, hits,
             (1000 * hits) // n_truth AS recall_permille
      FROM ta JOIN h ON ta.qid = h.qid
      ORDER BY ta.qid"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("v").as("cv"))
        val truth = Similarity.bruteForceTopK(c, q, 5).select("qid", "cid")
        val prefix = Similarity.bruteForceTopK(
          c.select(col("cid"), slice(col("cv"), 1, 16).as("cv")),
          q.select(col("qid"), slice(col("qv"), 1, 16).as("qv")), 5)
          .select("qid", "cid")
        val ta = truth.groupBy("qid").agg(count(lit(1)).as("n_truth"))
        val h = truth.join(prefix.withColumn("a", lit(1)), Seq("qid", "cid"), "left")
          .groupBy("qid").agg(count(col("a")).as("hits"))
        ta.join(h, Seq("qid"))
          .select(col("qid"), col("n_truth"), col("hits"),
            expr("div(1000 * hits, n_truth)").as("recall_permille"))
          .orderBy("qid")
      }),

    // PER-DIMENSION MOMENT PROFILE: exact integer (n, Σq, Σq²) per
    // embedding lane after micro-quantization — the feature-selection
    // / PCA-precursor statistic (a dead lane has near-zero spread; a
    // dominant lane drowns cosine). Variance stays OFF the oracle
    // surface: both engines agree on the raw BIGINT moments, and any
    // consumer derives var = (nΣq²−(Σq)²)/n² in their own float
    // space — the q_corr_exact discipline applied lane-wise. One
    // posexplode + ONE map-side-combined aggregate keyed by the
    // 64-value dim id; Σq² of micro-quantized unit-ish lanes peaks
    // ~10¹³, far inside BIGINT.
    QDef("q_embed_dim_variance", Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id, i,
              CAST(floor(v[i] * 1000000.0 + 0.5) AS BIGINT) AS qv
            FROM e, UNNEST(generate_series(1, len(v))) AS g(i))
      SELECT CAST(i AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qv) AS BIGINT) AS sum_micro,
             CAST(sum(qv * qv) AS BIGINT) AS sumsq
      FROM q GROUP BY 1 ORDER BY dim"""),
      (s, d) =>
        t(s, d, "embeddings")
          .select(posexplode(col("embedding").cast("array<double>"))
            .as(Seq("p0", "x")))
          .select((col("p0") + 1).cast("long").as("dim"),
            floor(col("x") * lit(1000000.0) + lit(0.5)).cast("long").as("qv"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"),
            sum("qv").cast("long").as("sum_micro"),
            sum(col("qv") * col("qv")).cast("long").as("sumsq"))
          .orderBy("dim")),

    // Dominant principal direction by FIXED-POINT POWER ITERATION
    // over symmetrically int8-quantized embeddings: two unrolled
    // rounds of v ← AᵀA·v from the all-ones start, renormalizing to
    // milli-units (÷ max|w|) between rounds so every intermediate is
    // a small exact BIGINT — the whole iteration is integer matrix
    // arithmetic expressed as keyed aggregates (posexplode →
    // per-vector row-sum → per-dim column-sum), with the 64-row v
    // vector broadcast back for round 2. No centering (it's the top
    // right-singular direction of the quantized matrix — the usual
    // scale shortcut) and no floats cross the oracle surface: the
    // only doubles are the shared exactly-rounded quantization and
    // renormalization, floored identically in both engines. Overflow
    // headroom: |w₂| ≤ N·127·64·127·1000 ≈ 1e9·N, safe in BIGINT to
    // N ≈ 1e9 vectors.
    QDef("q_embed_power_pca", Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE len(embedding) > 0),
      mm AS (SELECT vec_id, v,
               greatest(abs(list_min(v)), abs(list_max(v))) AS am FROM e),
      q AS (SELECT vec_id,
              CASE WHEN am = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(v,
                     x -> CAST(floor(x * 127 / am + 0.5) AS BIGINT))
              END AS c
            FROM mm),
      p AS (SELECT vec_id, s.j AS j, s.cv AS cv FROM
              (SELECT vec_id, unnest(list_transform(range(1, len(c) + 1),
                 i -> {'j': i, 'cv': c[i]})) AS s FROM q)),
      s1 AS (SELECT vec_id, CAST(sum(cv) AS BIGINT) AS sv FROM p GROUP BY 1),
      w1 AS (SELECT j, CAST(sum(cv * sv) AS BIGINT) AS w
             FROM p JOIN s1 USING (vec_id) GROUP BY j),
      m1 AS (SELECT max(abs(w)) AS m FROM w1),
      v1 AS (SELECT j, w AS wr1, CASE WHEN m = 0 THEN 0
               ELSE CAST(floor(1000.0 * w / m) AS BIGINT) END AS v1m
             FROM w1, m1),
      s2 AS (SELECT vec_id, CAST(sum(cv * v1m) AS BIGINT) AS sv
             FROM p JOIN v1 USING (j) GROUP BY vec_id),
      w2 AS (SELECT j, CAST(sum(cv * sv) AS BIGINT) AS w
             FROM p JOIN s2 USING (vec_id) GROUP BY j),
      m2 AS (SELECT max(abs(w)) AS m FROM w2),
      v2 AS (SELECT j, CASE WHEN m = 0 THEN 0
               ELSE CAST(floor(1000.0 * w / m) AS BIGINT) END AS v2m
             FROM w2, m2)
      SELECT CAST(v1.j AS BIGINT) AS dim, v1.wr1 AS w1_raw,
             v1.v1m AS v1_milli, v2.v2m AS v2_milli
      FROM v1 JOIN v2 USING (j) ORDER BY dim"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .filter(size(col("embedding")) > 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("am",
            greatest(abs(array_min(col("v"))), abs(array_max(col("v")))))
        val q = e.select(col("vec_id"),
          when(col("am") === 0, transform(col("v"), _ => lit(0L)))
            .otherwise(transform(col("v"),
              x => floor(x * lit(127) / col("am") + lit(0.5)).cast("long")))
            .as("c"))
        // the code matrix feeds four matvec aggregates — snapshot the
        // N×64 exploded postings once (QDef.withCacheRelease frees the
        // blocks). r18 OPT: persist() → lazy localCheckpoint, the
        // q_triangle_support lesson — persist caches blocks but keeps
        // the full quantize lineage inside every consumer's plan, so
        // the four matvec consumers each re-plan (and AQE re-optimizes)
        // the whole subtree; the snapshot truncates it to block reads.
        val p = QDef.snap(
          q.select(col("vec_id"), posexplode(col("c")).as(Seq("p0", "cv")))
            .select(col("vec_id"), (col("p0") + 1).as("j"), col("cv")))
        val s1 = p.groupBy("vec_id").agg(sum("cv").cast("long").as("sv"))
        val w1 = p.join(s1, Seq("vec_id")).groupBy("j")
          .agg(sum(col("cv") * col("sv")).cast("long").as("w"))
        val m1 = w1.agg(max(abs(col("w"))).as("m"))
        val v1 = w1.crossJoin(broadcast(m1))
          .select(col("j"), col("w").as("wr1"),
            when(col("m") === 0, 0L)
              .otherwise(floor(lit(1000.0) * col("w") / col("m")).cast("long"))
              .as("v1m"))
        val s2 = p.join(broadcast(v1.select("j", "v1m")), Seq("j"))
          .groupBy("vec_id").agg(sum(col("cv") * col("v1m")).cast("long").as("sv"))
        val w2 = p.join(s2, Seq("vec_id")).groupBy("j")
          .agg(sum(col("cv") * col("sv")).cast("long").as("w"))
        val m2 = w2.agg(max(abs(col("w"))).as("m"))
        val v2 = w2.crossJoin(broadcast(m2))
          .select(col("j"),
            when(col("m") === 0, 0L)
              .otherwise(floor(lit(1000.0) * col("w") / col("m")).cast("long"))
              .as("v2m"))
        v1.join(v2, Seq("j"))
          .select(col("j").cast("long").as("dim"), col("wr1").as("w1_raw"),
            col("v1m").as("v1_milli"), col("v2m").as("v2_milli"))
          .orderBy("dim")
      }),

    // Embedding CENTROID DRIFT monitor per label — the vector-lake
    // health check that catches a re-embedding or upstream model
    // change: split each label's vectors into two deterministic
    // cohorts (vec_id parity — a scale-free stand-in for
    // before/after batches), compare per-dim centroid means, report
    // the Euclidean shift. The per-dim means are ratios of EXACT
    // integer micro-sums; their difference is floored to an integer
    // micro-diff per dim so the 64-term sum of squares is exact
    // BIGINT arithmetic (≤64·4e12) — no float accumulation whose
    // ordering could differ between engines. One explode + one
    // grouped aggregate: linear in vectors at any SF.
    QDef("q_embed_centroid_shift", Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE len(embedding) > 0),
      p AS (SELECT vec_id % 2 AS cohort, label, s.j AS j, s.qv AS qv FROM
              (SELECT vec_id, label, unnest(list_transform(range(1, len(v) + 1),
                 i -> {'j': i, 'qv': CAST(floor(v[i] * 1000000.0 + 0.5)
                                          AS BIGINT)})) AS s
               FROM e)),
      m AS (SELECT label, j,
              CAST(sum(CASE WHEN cohort = 0 THEN qv ELSE 0 END) AS BIGINT) AS sa,
              CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
              CAST(sum(CASE WHEN cohort = 1 THEN qv ELSE 0 END) AS BIGINT) AS sb,
              CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
            FROM p GROUP BY 1, 2),
      d AS (SELECT label, j, na, nb,
              CAST(floor(1.0 * sa / na - 1.0 * sb / nb) AS BIGINT) AS dj
            FROM m WHERE na > 0 AND nb > 0)
      SELECT label,
             CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
             CAST(floor(sqrt(CAST(sum(dj * dj) AS DOUBLE))) AS BIGINT)
               AS shift_micro
      FROM d GROUP BY label ORDER BY label"""),
      (s, d) => {
        val p = t(s, d, "embeddings")
          .filter(size(col("embedding")) > 0)
          .select((col("vec_id") % 2).as("cohort"), col("label"),
            posexplode(transform(col("embedding").cast("array<double>"),
              x => floor(x * lit(1000000.0) + lit(0.5)).cast("long")))
              .as(Seq("p0", "qv")))
          .select(col("cohort"), col("label"), (col("p0") + 1).as("j"), col("qv"))
        p.groupBy("label", "j")
          .agg(sum(when(col("cohort") === 0, col("qv")).otherwise(0L))
            .cast("long").as("sa"),
            sum(when(col("cohort") === 0, 1L).otherwise(0L)).cast("long").as("na"),
            sum(when(col("cohort") === 1, col("qv")).otherwise(0L))
              .cast("long").as("sb"),
            sum(when(col("cohort") === 1, 1L).otherwise(0L)).cast("long").as("nb"))
          .filter(col("na") > 0 && col("nb") > 0)
          .withColumn("dj",
            floor(lit(1.0) * col("sa") / col("na") -
                  lit(1.0) * col("sb") / col("nb")).cast("long"))
          .groupBy("label")
          .agg(max("na").cast("long").as("n_a"), max("nb").cast("long").as("n_b"),
            floor(sqrt(sum(col("dj") * col("dj")).cast("double"))).cast("long")
              .as("shift_micro"))
          .orderBy("label")
      }),

    // RECIPROCAL-RANK FUSION of two production rankers — the
    // standard way hybrid retrieval merges rank lists without score
    // calibration: rrf(c) = Σ_r 1/(60 + rank_r(c)), here in exact
    // integer milli-units (1000 // (60+rank), floor division on
    // positive ints both engines). Ranker A is the brute-force
    // cosine top-20 (the recall ceiling), ranker B the IVF
    // cell-restricted top-20 (the scale path); candidates missing
    // from one list contribute zero from it. The fuse is a
    // (qid,cid)-keyed FULL OUTER join of two top-k tables — ~20
    // rows per query each — so fusion cost is rank-list-sized, not
    // corpus-sized, exactly as in a serving tier.
    QDef("q_rrf_fusion", Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS cell, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, label AS cell, v AS cv FROM e),
      sa AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q CROSS JOIN c WHERE qid <> cid),
      ra AS (SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid
               ORDER BY sim3 DESC, cid) AS BIGINT) AS rnk FROM sa),
      ral AS (SELECT * FROM ra WHERE rnk <= 20),
      sb AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q JOIN c USING (cell) WHERE qid <> cid),
      rb AS (SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid
               ORDER BY sim3 DESC, cid) AS BIGINT) AS rnk FROM sb),
      rbl AS (SELECT * FROM rb WHERE rnk <= 20),
      f AS (SELECT coalesce(ral.qid, rbl.qid) AS qid,
              coalesce(ral.cid, rbl.cid) AS cid,
              coalesce(1000 // (60 + ral.rnk), 0) +
                coalesce(1000 // (60 + rbl.rnk), 0) AS rrf_milli,
              coalesce(ral.rnk, 0) AS rank_brute,
              coalesce(rbl.rnk, 0) AS rank_ivf
            FROM ral FULL JOIN rbl
              ON ral.qid = rbl.qid AND ral.cid = rbl.cid)
      SELECT qid, cid, CAST(rrf_milli AS BIGINT) AS rrf_milli,
             rank_brute, rank_ivf,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY rrf_milli DESC, cid) AS BIGINT) AS fused_rank
      FROM f QUALIFY fused_rank <= 5 ORDER BY qid, fused_rank"""),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").as("cell"), col("embedding").as("v"))
        val q = e.select(col("vec_id").as("qid"), col("cell"), col("v").as("qv"))
          .filter(col("qid") < 10)
        val c = e.select(col("vec_id").as("cid"), col("cell"), col("v").as("cv"))
        val ra = Similarity.bruteForceTopK(c.drop("cell"), q.drop("cell"), 20)
          .select(col("qid"), col("cid"), col("rank").as("ra"))
        val rb = Similarity.ivfTopK(c, q, 20)
          .select(col("qid").as("qb"), col("cid").as("cb"), col("rank").as("rb"))
        ra.join(rb, col("qid") === col("qb") && col("cid") === col("cb"),
          "full_outer")
          .select(coalesce(col("qid"), col("qb")).as("qid"),
            coalesce(col("cid"), col("cb")).as("cid"),
            (coalesce(expr("div(1000, 60 + ra)"), lit(0L)) +
              coalesce(expr("div(1000, 60 + rb)"), lit(0L))).cast("long")
              .as("rrf_milli"),
            coalesce(col("ra"), lit(0L)).as("rank_brute"),
            coalesce(col("rb"), lit(0L)).as("rank_ivf"))
          .withColumn("fused_rank", row_number().over(
            Window.partitionBy("qid").orderBy(col("rrf_milli").desc, col("cid")))
            .cast("long"))
          .filter(col("fused_rank") <= 5)
          .orderBy("qid", "fused_rank")
      }),

    // CLUSTER RADIUS PROFILE — per label, the histogram of member
    // distances to the label centroid in decimal-decade buckets
    // (digit count of the integer micro-distance — the
    // q_lateness_profile bucketing, no float log): the vector-lake
    // GRID-DBSCAN labeling (one density pass, no iteration): project
    // embeddings onto dims 1–2, quantize to a 0.25 grid, and label
    // every OCCUPIED CELL core / border / noise — core if its count
    // reaches the P75 cell density (a broadcast quantile scalar, so
    // the threshold adapts to any SF — never a constant tuned to one
    // corpus), border if an 8-neighbor of a core cell, else noise.
    // This is the density-clustering modality k-means can't express
    // (clusters of arbitrary shape + an explicit noise class), made
    // scale-safe the DBSCAN-on-Spark way: points never pair; all
    // density logic runs on the CELL table (bounded by occupied
    // cells), and neighbor tests are an EXPLODED 9-offset equi-join,
    // not an |Δcx|≤1 band join that would plan a cartesian.
    // Quantization floors e·4.0 — ×2² is exact in IEEE and floor is
    // engine-identical, so no negative-// trap (div truncates in
    // Spark, // floors in DuckDB — neither is ever called on a
    // sign).
    QDef("q_dbscan_grid", Some("""
      WITH pt AS (SELECT vec_id,
              CAST(floor(embedding[1] * 4.0) AS BIGINT) AS cx,
              CAST(floor(embedding[2] * 4.0) AS BIGINT) AS cy
            FROM embeddings WHERE len(embedding) >= 2),
      cell AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n
               FROM pt GROUP BY 1, 2),
      th AS (SELECT CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n)
                      AS BIGINT) AS minpts FROM cell),
      core AS (SELECT cx, cy FROM cell, th WHERE n >= minpts),
      coren AS (SELECT DISTINCT k.cx + dx.d AS ncx, k.cy + dy.d AS ncy
                FROM core k,
                  (SELECT -1 AS d UNION ALL SELECT 0 UNION ALL SELECT 1) dx,
                  (SELECT -1 AS d UNION ALL SELECT 0 UNION ALL SELECT 1) dy)
      SELECT c.cx, c.cy, c.n,
             CASE WHEN k.cx IS NOT NULL THEN 'core'
                  WHEN nb.ncx IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS label
      FROM cell c
      LEFT JOIN core k ON c.cx = k.cx AND c.cy = k.cy
      LEFT JOIN coren nb ON c.cx = nb.ncx AND c.cy = nb.ncy
      ORDER BY c.cx, c.cy"""),
      (s, d) => {
        val pt = t(s, d, "embeddings")
          .filter(size(col("embedding")) >= 2)
          .select(
            floor(element_at(col("embedding"), 1).cast("double") * lit(4.0))
              .cast("long").as("cx"),
            floor(element_at(col("embedding"), 2).cast("double") * lit(4.0))
              .cast("long").as("cy"))
        val cell = pt.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
        val th = cell.agg(
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n)").as("minpts"))
        val core = cell.crossJoin(broadcast(th))
          .filter(col("n") >= col("minpts")).select("cx", "cy")
        val offs = explode(sequence(lit(-1), lit(1))).as("d")
        val coren = core
          .select(col("cx"), col("cy"), offs)
          .select(col("cx") + col("d"), col("cy"),
            explode(sequence(lit(-1), lit(1))).as("d2"))
          .toDF("ncx", "cy0", "d2")
          .select(col("ncx"), (col("cy0") + col("d2")).as("ncy"))
          .distinct()
        cell
          .join(broadcast(core.withColumn("is_core", lit(1))),
            Seq("cx", "cy"), "left")
          .join(broadcast(coren.withColumn("is_nbr", lit(1))),
            cell("cx") === coren("ncx") && cell("cy") === coren("ncy"), "left")
          .select(col("cx"), col("cy"), col("n"),
            when(col("is_core").isNotNull, "core")
              .when(col("is_nbr").isNotNull, "border")
              .otherwise("noise").as("label"))
          .orderBy("cx", "cy")
      }),

    // compactness readout that flags a label whose members scatter
    // (mislabeled or multi-modal). Centroid means are floored
    // integer micros per (label, dim) — a labels×64 table that
    // broadcasts back onto one exploded pass; each member's squared
    // distance is exact BIGINT, one sqrt at the end. Linear in
    // vectors, keyed everywhere.
    QDef("q_embed_radius_hist", Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE len(embedding) > 0),
      p AS (SELECT vec_id, label, s.j AS j, s.qv AS qv FROM
              (SELECT vec_id, label, unnest(list_transform(range(1, len(v) + 1),
                 i -> {'j': i, 'qv': CAST(floor(v[i] * 1000000.0 + 0.5)
                                          AS BIGINT)})) AS s
               FROM e)),
      m AS (SELECT label, j,
              CAST(floor(1.0 * sum(qv) / count(*)) AS BIGINT) AS mj
            FROM p GROUP BY 1, 2),
      dist AS (SELECT p.vec_id, p.label,
                 CAST(floor(sqrt(CAST(sum((p.qv - m.mj) * (p.qv - m.mj))
                   AS DOUBLE))) AS BIGINT) AS d_micro
               FROM p JOIN m ON m.label = p.label AND m.j = p.j
               GROUP BY 1, 2),
      b AS (SELECT label,
              CASE WHEN d_micro = 0 THEN 0
                   ELSE length(CAST(d_micro AS VARCHAR)) END AS decade,
              d_micro
            FROM dist)
      SELECT CAST(label AS BIGINT) AS label, CAST(decade AS BIGINT) AS decade,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(d_micro) AS BIGINT) AS d_min,
             CAST(max(d_micro) AS BIGINT) AS d_max
      FROM b GROUP BY 1, 2 ORDER BY label, decade"""),
      (s, d) => {
        val p = t(s, d, "embeddings")
          .filter(size(col("embedding")) > 0)
          .select(col("vec_id"), col("label"),
            posexplode(transform(col("embedding").cast("array<double>"),
              x => floor(x * lit(1000000.0) + lit(0.5)).cast("long")))
              .as(Seq("p0", "qv")))
          .select(col("vec_id"), col("label"), (col("p0") + 1).as("j"), col("qv"))
        val m = p.groupBy("label", "j")
          .agg(floor(lit(1.0) * sum("qv") / count(lit(1))).cast("long").as("mj"))
        p.join(broadcast(m), Seq("label", "j"))
          .groupBy("vec_id", "label")
          .agg(floor(sqrt(sum((col("qv") - col("mj")) * (col("qv") - col("mj")))
            .cast("double"))).cast("long").as("d_micro"))
          .select(col("label"),
            when(col("d_micro") === 0, 0L)
              .otherwise(length(col("d_micro").cast("string")).cast("long"))
              .as("decade"), col("d_micro"))
          .groupBy("label", "decade")
          .agg(count(lit(1)).as("n"), min("d_micro").cast("long").as("d_min"),
            max("d_micro").cast("long").as("d_max"))
          .select(col("label").cast("long").as("label"), col("decade"), col("n"),
            col("d_min"), col("d_max"))
          .orderBy("label", "decade")
      }),

    // kNN-GRAPH RECIPROCITY — the neighborhood-quality diagnostic
    // behind HNSW/UMAP health checks: on a 1-in-10 vec_id sample,
    // build the directed k=5 cosine kNN graph and measure how many
    // edges are MUTUAL (u∈knn(v) ∧ v∈knn(u)). Low reciprocity flags
    // hubness or disconnected manifolds before an ANN index is
    // built on the lake. The sample-restricted graph keeps the
    // scoring quadratic term sample²-bounded (the declared-sample
    // discipline of the pair queries) — and the sample is the fixed
    // PILOT prefix, not a fraction: a diagnostic's cost must be
    // O(1) in corpus size (vec_id < PilotVecCap; 17× slope at sf1
    // before). The mutuality check is one self-join of the 5·n edge
    // list on the reversed key.
    QDef("q_knn_reciprocity", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id % 10 = 0
                   AND vec_id < ${graft.text.NearDup.PilotVecCap}),
      q AS (SELECT vec_id AS qid, v AS qv FROM e),
      c AS (SELECT vec_id AS cid, v AS cv FROM e),
      sc AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q CROSS JOIN c WHERE qid <> cid),
      kn AS (SELECT qid, cid FROM (
               SELECT qid, cid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim3 DESC, cid) AS rnk FROM sc)
             WHERE rnk <= 5),
      mu AS (SELECT a.qid, a.cid,
               CASE WHEN b.qid IS NOT NULL THEN 1 ELSE 0 END AS mutual
             FROM kn a LEFT JOIN kn b ON b.qid = a.cid AND b.cid = a.qid)
      SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_nodes,
             CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(mutual) AS BIGINT) AS n_mutual,
             CAST((1000000 * sum(mutual)) // count(*) AS BIGINT)
               AS reciprocity_ppm
      FROM mu"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .filter(col("vec_id") % 10 === 0 &&
            col("vec_id") < graft.text.NearDup.PilotVecCap)
          .select(col("vec_id"), col("embedding").as("v"))
        val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("v").as("cv"))
        val kn = Similarity.bruteForceTopK(c, q, 5).select("qid", "cid")
        val rev = kn.select(col("qid").as("rq"), col("cid").as("rc"))
        kn.join(rev, col("rq") === col("cid") && col("rc") === col("qid"),
          "left_outer")
          .select(col("qid"), col("cid"),
            when(col("rq").isNotNull, 1L).otherwise(0L).as("mutual"))
          .agg(countDistinct("qid").as("n_nodes"), count(lit(1)).as("n_edges"),
            sum("mutual").cast("long").as("n_mutual"))
          .select(col("n_nodes"), col("n_edges"), col("n_mutual"),
            expr("div(1000000 * n_mutual, n_edges)").cast("long")
              .as("reciprocity_ppm"))
      }),

    // NEAREST-NEIGHBOR MARGIN — the ambiguity screen per query: the
    // gap between the best and second-best cosine (milli). A thin
    // margin means the "nearest" label is a coin flip and the ANN
    // recall targets for that query are misleading; serving tiers
    // route such queries to exact re-rank. One top-2 ranking from
    // the production brute ranker; output per query with the
    // thin-margin flag (< 10 milli).
    QDef("q_knn_margin", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      c AS (SELECT vec_id AS cid, v AS cv FROM e),
      sc AS (SELECT qid, cid, (round($cosSql, 3) + 0.0) AS sim3
             FROM q CROSS JOIN c WHERE qid <> cid),
      r AS (SELECT qid, cid, sim3, row_number() OVER (PARTITION BY qid
              ORDER BY sim3 DESC, cid) AS rnk FROM sc),
      t1 AS (SELECT qid, cid AS top1, sim3 AS s1 FROM r WHERE rnk = 1),
      t2 AS (SELECT qid, sim3 AS s2 FROM r WHERE rnk = 2)
      SELECT t1.qid, t1.top1,
             CAST(floor(1000 * t1.s1 + 0.5) AS BIGINT) AS s1_milli,
             CAST(floor(1000 * t2.s2 + 0.5) AS BIGINT) AS s2_milli,
             CAST(floor(1000 * t1.s1 + 0.5) - floor(1000 * t2.s2 + 0.5)
               AS BIGINT) AS margin_milli,
             CASE WHEN floor(1000 * t1.s1 + 0.5) - floor(1000 * t2.s2 + 0.5)
                  < 10 THEN 1 ELSE 0 END AS thin_margin
      FROM t1 JOIN t2 USING (qid) ORDER BY qid"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val c = e.select(col("vec_id").as("cid"), col("v").as("cv"))
        val top2 = Similarity.bruteForceTopK(c, q, 2)
        val t1 = top2.filter(col("rank") === 1)
          .select(col("qid"), col("cid").as("top1"),
            floor(lit(1000) * col("sim3") + lit(0.5)).cast("long").as("s1_milli"))
        val t2 = top2.filter(col("rank") === 2)
          .select(col("qid").as("q2"),
            floor(lit(1000) * col("sim3") + lit(0.5)).cast("long").as("s2_milli"))
        t1.join(t2, col("qid") === col("q2"))
          .select(col("qid"), col("top1"), col("s1_milli"), col("s2_milli"),
            (col("s1_milli") - col("s2_milli")).as("margin_milli"),
            when(col("s1_milli") - col("s2_milli") < 10, 1L).otherwise(0L)
              .as("thin_margin"))
          .orderBy("qid")
      }),

    // CORESET BY FARTHEST-POINT SAMPLING (greedy k-center, Gonzalez
    // 1985), 3 unrolled rounds: seed at vec_id 0, then twice pick the
    // vector FARTHEST from everything selected so far — the diverse-
    // exemplar selection a labeling/eval budget spends first. Row k
    // reports the pick, its distance at selection time, and the
    // coverage radius (max / mean min-dist) AFTER k centers — the
    // radius-vs-k curve that says when the coreset is "enough".
    // Distances quantize to integer milli (1000 − cos·1000) BEFORE
    // every argmin/argmax, so ties break identically cross-engine.
    // Scale shape: each round is one broadcast-scalar crossJoin + a
    // narrow per-row min + a TakeOrdered(1) — k linear passes, no
    // shuffle wider than the 1-row picks; the honest FPS cost is k·N
    // and that is exactly what the plan spends. The Spark side
    // snapshots each round's min-dist table (d1, d2): every dᵏ is
    // read by three consumers (the next pick, the next dᵏ⁺¹, its cov
    // aggregate), and without the snapshot the k-pass bound would
    // hinge on ReuseExchange deduping nested subtrees (dᵏ recomputes
    // dᵏ⁻¹ recursively — k² passes if the dedup misses). ~N rows ×
    // (id, vec, dist) per round, freed by QDef.withCacheRelease after
    // the action (CoresetCacheSpec pins the net-zero persistent-RDD
    // delta).
    QDef("q_coreset_fps", Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c1 AS (SELECT vec_id AS id1, v AS v1 FROM e WHERE vec_id = 0),
      d1 AS (SELECT e.vec_id, e.v,
               CAST(1000 - floor(1000 * (${cosineSql("e.v", "c1.v1")}) + 0.5) AS BIGINT) AS dm
             FROM e, c1),
      c2 AS (SELECT vec_id AS id2, v AS v2, dm AS pd2 FROM d1 ORDER BY dm DESC, vec_id LIMIT 1),
      d2 AS (SELECT d1.vec_id, d1.v, least(d1.dm,
               CAST(1000 - floor(1000 * (${cosineSql("d1.v", "c2.v2")}) + 0.5) AS BIGINT)) AS dm
             FROM d1, c2),
      c3 AS (SELECT vec_id AS id3, v AS v3, dm AS pd3 FROM d2 ORDER BY dm DESC, vec_id LIMIT 1),
      d3 AS (SELECT d2.vec_id, least(d2.dm,
               CAST(1000 - floor(1000 * (${cosineSql("d2.v", "c3.v3")}) + 0.5) AS BIGINT)) AS dm
             FROM d2, c3),
      cov1 AS (SELECT max(dm) AS mx, CAST(sum(dm) AS BIGINT) AS sm, CAST(count(*) AS BIGINT) AS nn FROM d1),
      cov2 AS (SELECT max(dm) AS mx, CAST(sum(dm) AS BIGINT) AS sm, CAST(count(*) AS BIGINT) AS nn FROM d2),
      cov3 AS (SELECT max(dm) AS mx, CAST(sum(dm) AS BIGINT) AS sm, CAST(count(*) AS BIGINT) AS nn FROM d3)
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS sel_rank, id1 AS sel_vec_id,
               CAST(0 AS BIGINT) AS picked_dist_milli,
               mx AS cover_max_milli, CAST(sm // nn AS BIGINT) AS cover_mean_milli
        FROM c1, cov1
        UNION ALL SELECT CAST(2 AS BIGINT), id2, pd2, mx, CAST(sm // nn AS BIGINT) FROM c2, cov2
        UNION ALL SELECT CAST(3 AS BIGINT), id3, pd3, mx, CAST(sm // nn AS BIGINT) FROM c3, cov3)
      ORDER BY sel_rank"""),
      (s, d) => {
        def dm(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          (lit(1000) - floor(lit(1000) * Similarity.cosine(a, b) + lit(0.5)))
            .cast("long")
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val c1 = e.filter(col("vec_id") === 0)
          .select(col("vec_id").as("id1"), col("v").as("v1"))
        val d1 = QDef.snap(e.crossJoin(broadcast(c1))
          .select(col("vec_id"), col("v"), dm(col("v"), col("v1")).as("dm")))
        val c2 = d1.orderBy(col("dm").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("id2"), col("v").as("v2"), col("dm").as("pd2"))
        val d2 = QDef.snap(d1.crossJoin(broadcast(c2))
          .select(col("vec_id"), col("v"),
            least(col("dm"), dm(col("v"), col("v2"))).as("dm")))
        val c3 = d2.orderBy(col("dm").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("id3"), col("v").as("v3"), col("dm").as("pd3"))
        val d3 = d2.crossJoin(broadcast(c3))
          .select(col("vec_id"),
            least(col("dm"), dm(col("v"), col("v3"))).as("dm"))
        def cov(df: org.apache.spark.sql.DataFrame) =
          df.agg(max("dm").as("mx"), sum("dm").cast("long").as("sm"),
            count(lit(1)).as("nn"))
        val r1 = c1.crossJoin(cov(d1)).select(lit(1L).as("sel_rank"),
          col("id1").as("sel_vec_id"), lit(0L).as("picked_dist_milli"),
          col("mx").as("cover_max_milli"), expr("div(sm, nn)").as("cover_mean_milli"))
        val r2 = c2.crossJoin(cov(d2)).select(lit(2L).as("sel_rank"),
          col("id2").as("sel_vec_id"), col("pd2").as("picked_dist_milli"),
          col("mx").as("cover_max_milli"), expr("div(sm, nn)").as("cover_mean_milli"))
        val r3 = c3.crossJoin(cov(d3)).select(lit(3L).as("sel_rank"),
          col("id3").as("sel_vec_id"), col("pd3").as("picked_dist_milli"),
          col("mx").as("cover_max_milli"), expr("div(sm, nn)").as("cover_mean_milli"))
        r1.union(r2).union(r3).orderBy("sel_rank")
      }),

    // CLUSTER↔LABEL PURITY: assign every vector to its nearest
    // centroid (the q_embed_ann_ivf_kmeans coarse quantizer — same
    // ivfAssign, same 6-decimal tie discipline) and census each cell
    // against the ground-truth label column: members, distinct
    // labels, majority label, purity permille. With --embed=planted
    // lakes this is the clustering-quality readout (planted clusters
    // ⇒ high purity); on the gaussian null it flags that "cells" are
    // arbitrary Voronoi shards (purity ≈ 1/|labels|). Scale shape:
    // assignment is a narrow per-row argmax over driver-inlined
    // centroids (no join, no shuffle); the census is two tiny
    // aggregates over (cell,label) — output is bounded by k·|labels|.
    QDef("q_cluster_label_purity", Some(s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 8),
      scored AS (SELECT e.vec_id AS cid, e.label, cent.cell,
          round(${cosineSql("e.v", "cent.centv")}, 6) AS cs
        FROM e CROSS JOIN cent),
      assigned AS (SELECT cid, label, cell FROM scored
        QUALIFY row_number() OVER (PARTITION BY cid ORDER BY cs DESC, cell) = 1),
      lc AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS c
             FROM assigned GROUP BY cell, label),
      top AS (SELECT cell, CAST(label AS BIGINT) AS top_label, c AS top_n FROM lc
        QUALIFY row_number() OVER (PARTITION BY cell ORDER BY c DESC, label) = 1),
      tot AS (SELECT cell, CAST(sum(c) AS BIGINT) AS n_members,
                     CAST(count(*) AS BIGINT) AS n_labels FROM lc GROUP BY cell)
      SELECT tot.cell, n_members, n_labels, top_label, top_n,
             CAST((1000 * top_n) // n_members AS BIGINT) AS purity_permille
      FROM tot JOIN top USING (cell) ORDER BY cell"""),
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding").as("v"))
        val corpus = e.select(col("vec_id").as("cid"), col("label"),
          col("v").as("cv"))
        val centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("v").as("centv"))
        val lc = Similarity.ivfAssign(corpus, centroids)
          .groupBy("cell", "label").agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cell").orderBy(col("c").desc, col("label"))
        val top = lc.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cell"), col("label").cast("long").as("top_label"),
            col("c").as("top_n"))
        val tot = lc.groupBy("cell")
          .agg(sum("c").cast("long").as("n_members"),
            count(lit(1)).as("n_labels"))
        tot.join(top, "cell")
          .select(col("cell"), col("n_members"), col("n_labels"),
            col("top_label"), col("top_n"),
            expr("div(1000 * top_n, n_members)").as("purity_permille"))
          .orderBy("cell")
      })
  )

  /** IVF-celled embedding near-dup pair CTEs (`e` → `assigned` →
    * `p(vec_a, vec_b, sim3)`) — ONE copy, shared by every ANN-pair
    * oracle so they cannot desync, and the relational mirror of
    * [[graft.sim.Similarity.ivfAssign]]'s r16 TWO-LEVEL assignment.
    * Both constants interpolate from Similarity (the r15 ADVICE
    * desync hazard): k = least(greatest(8, N//250), IvfCellCap);
    * below IvfHierCutover the flat branch (`af`) assigns exactly as
    * pre-r16 (tested small SFs resolve k=8 → bit-identical
    * artifacts); at or above it (`ah`) each vector first picks its
    * best of m = ⌈√k⌉ meta centroids (the m smallest cell ids), then
    * its best cell among that meta's children, where every meta is
    * its own child and every other centroid joins its best meta —
    * the same round-6 score and smaller-cell tiebreak at every
    * level. Exactly one of af/ah is nonempty (af's WHERE gate;
    * meta/cm/rowmeta are empty when m=0), so `assigned` is total
    * either way. Oracle cost mirrors the engine's: N·2√k scoring
    * rows instead of N·k. */
  private def annPairCtes: String = s"""
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      kk AS (SELECT least(greatest(8, count(*) // 250),
                          ${Similarity.IvfCellCap}) AS k FROM e),
      mm AS (SELECT CASE WHEN k >= ${Similarity.IvfHierCutover}
                         THEN CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT)
                         ELSE CAST(0 AS BIGINT) END AS m FROM kk),
      cent AS (SELECT vec_id AS cell, v AS centv FROM e
               WHERE vec_id < (SELECT k FROM kk)),
      meta AS (SELECT cell AS mcell, centv AS mv FROM cent
               WHERE cell < (SELECT m FROM mm)),
      cm AS (SELECT cell, cell AS mcell, centv FROM cent
             WHERE cell < (SELECT m FROM mm)
             UNION ALL
             SELECT cell, mcell, centv FROM (
               SELECT cent.cell, meta.mcell, cent.centv,
                      round(${cosineSql("cent.centv", "meta.mv")}, 6) AS cs
               FROM cent, meta WHERE cent.cell >= (SELECT m FROM mm))
             QUALIFY row_number() OVER (PARTITION BY cell
               ORDER BY cs DESC, mcell) = 1),
      rowmeta AS (SELECT cid, cv, mcell FROM (
               SELECT e.vec_id AS cid, e.v AS cv, meta.mcell,
                      round(${cosineSql("e.v", "meta.mv")}, 6) AS cs
               FROM e CROSS JOIN meta)
             QUALIFY row_number() OVER (PARTITION BY cid
               ORDER BY cs DESC, mcell) = 1),
      af AS (SELECT cid, cv, cell FROM (
               SELECT e.vec_id AS cid, e.v AS cv, cent.cell,
                      round(${cosineSql("e.v", "cent.centv")}, 6) AS cs
               FROM e CROSS JOIN cent WHERE (SELECT m FROM mm) = 0)
             QUALIFY row_number() OVER (PARTITION BY cid
               ORDER BY cs DESC, cell) = 1),
      ah AS (SELECT cid, cv, cell FROM (
               SELECT r.cid, r.cv, cm.cell,
                      round(${cosineSql("r.cv", "cm.centv")}, 6) AS cs
               FROM rowmeta r JOIN cm USING (mcell))
             QUALIFY row_number() OVER (PARTITION BY cid
               ORDER BY cs DESC, cell) = 1),
      assigned AS (SELECT * FROM af UNION ALL SELECT * FROM ah),
      p AS (SELECT a.cid AS vec_a, b.cid AS vec_b,
                   (round(${cosineSql("a.cv", "b.cv")}, 3) + 0.0) AS sim3
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.cid < b.cid)""".stripMargin

  /** The Spark side of `annPairCtes`: IVF cell assignment (narrow
    * per-row argmax over the bounded centroid set) then within-cell
    * candidate pairs ≥ 0.35 — cartesian-free by construction,
    * plan-asserted in ScalePlanSpec. Cell count SCALES with the
    * corpus, k = max(8, N/250): the within-cell pair term is
    * Σ n_cell² ≈ N²/k, so a FIXED k degrades back to quadratic as N
    * grows (the r13 slope sweep measured 20× time on 10× vectors at
    * k=8) while k ∝ N pins expected cell size at ~250 vectors and
    * the pair term at ~250·N — linear. And since r16 the ASSIGNMENT
    * term stays linear too: at k ≥ IvfHierCutover, ivfAssign scores
    * two levels (N·2√k cosines, not N·k — the r15 decade's
    * q_ann_cell_balance 75.7× flag, killed at the root instead of
    * frozen by the old IvfCellCap=2048, which let pairs regrow
    * ∝N²/2048 past 512k vectors). Identical at the tested SFs
    * (N ≤ 2000 → k=8, flat); at sf1 k=80 → m=9 metas. At 100 TB the
    * same rule gives k ≈ N/250 kmeans cells (q_embed_ann_ivf_kmeans
    * has the trained-centroid variant) and the assigned corpus is
    * written partitioned by cell. The N-scan to size k is one
    * column-pruned count, and the centroid rows were already a
    * driver collect by design (ivfAssign inlines them). */
  /** Memo for the one eager N-scan annPairsDf needs to size its cell
    * count (r13 ADVICE): several ANN-family queries rebuild the same
    * DataFrame, and plan-only consumers (explain paths, plan-shape
    * specs) were paying a full embeddings count per BUILD. The corpus
    * size is a property of (session, dataset dir), so cache it there —
    * keyed on the session REFERENCE itself (reference equality can't
    * collide across live sessions, unlike the identity hash the r14
    * ADVICE flagged) and the sfDir string. Bounded: one Long per
    * (session, SF) pair ever seen in a JVM; the strong session ref is
    * fine because a JVM holds a handful of sessions, not thousands.
    * Caveat: a dataset REWRITTEN at the same path within one session
    * (mode-overwrite in tests) would read a stale count; tests use
    * fresh dirs, and production SF dirs are immutable — call
    * [[clearCorpusCountMemo]] if that ever changes. */
  private val corpusCountMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), java.lang.Long]()

  /** Test-only escape hatch for the same-path-rewrite staleness. */
  def clearCorpusCountMemo(): Unit = corpusCountMemo.clear()

  private def annPairsDf(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val n: Long = corpusCountMemo.computeIfAbsent(
      s -> d, _ => e.count())
    val kCells = Similarity.ivfCellCount(n)
    val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"))
    val centroids = e.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("cell"), col("v").as("centv"))
    // r18 OPT (VERDICT r17 item 5): the celled self-join consumes the
    // assignment twice and the renamed sides canonicalize apart, so
    // ivfAssign (a per-row argmax over kCells centroid dot products —
    // the expensive stage) ran twice. One snapshot; both sides read
    // the stored blocks.
    val assigned = QDef.snap(Similarity.ivfAssign(corpus, centroids))
    val a = assigned.select(col("cell"), col("cid").as("vec_a"),
      col("cv").as("va"))
    val b = assigned.select(col("cell"), col("cid").as("vec_b"),
      col("cv").as("vb"))
    a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(Similarity.cosine(col("va"), col("vb")), 3).as("sim3"))
      .filter(col("sim3") >= 0.35)
  }
}
