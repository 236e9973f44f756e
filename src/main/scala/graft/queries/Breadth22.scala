package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.functions._

/** Round-13 second wave: the surgical exact-substring cut, the
  * time-series monitoring tier (seasonal decomposition + CUSUM
  * changepoints), leakage-free feature encoding, and corpus-statistics
  * evals (Zipf/Heaps, padding economics).
  */
object Breadth22 {

  private val SpanN = 8

  /** Surgical exact-substring removal over the perturbed augmented
    * corpus ([[graft.ext.TextOps.spanRemoval]]): every duplicated word
    * 8-gram keeps its first occurrence, every other occurrence's words
    * are cut, and the md5 of each document's SURVIVING text is pinned —
    * the actual Lee-et-al cut whose size `text_dup_spans` only meters.
    * The "xx "-perturbed copies share every interior 8-gram with their
    * originals, so the fixture guarantees real surgery: originals
    * (lower id = canonical) survive intact, copies lose their shared
    * spans and keep only the perturbation fringe.
    */
  val dedupSpanRemoval = Q(
    "dedup_span_removal",
    (s, dir) =>
      graft.ext.TextOps.spanRemoval(
          Fragments.augmentedDocs(s, dir, perturb = true), "doc_id", "text",
          n = SpanN)
        .orderBy(col("doc_id")),
    Some {
      val gram = (1 to SpanN).map(j => s"w[pos+$j]").mkString(" || ' ' || ")
      s"""
      WITH ${Fragments.augCte(perturb = true)},
      nw AS (SELECT doc_id, ${Fragments.NormW} AS w FROM aug),
      g0 AS (SELECT doc_id, unnest(range(len(w) - ${SpanN - 1})) AS pos, w
             FROM nw WHERE len(w) >= $SpanN),
      gh AS (SELECT doc_id, pos,
               ('0x' || substr(md5($gram), 1, 15))::BIGINT AS h,
               ('0x' || substr(md5($gram), 17, 15))::BIGINT AS h2
             FROM g0),
      c AS (SELECT h, h2, count(*) AS cnt, min(doc_id * 1048576 + pos) AS ck
            FROM gh GROUP BY h, h2),
      cut AS (SELECT gh.doc_id, gh.pos FROM gh JOIN c USING (h, h2)
              WHERE c.cnt >= 2 AND gh.doc_id * 1048576 + gh.pos <> c.ck),
      cov AS (SELECT DISTINCT doc_id, cp FROM
                (SELECT doc_id, pos + unnest(range($SpanN)) AS cp FROM cut)),
      wr AS (SELECT doc_id, unnest(range(len(w))) AS i, w FROM nw),
      kept AS (SELECT wr.doc_id, wr.i, wr.w[wr.i + 1] AS word
               FROM wr LEFT JOIN cov ON wr.doc_id = cov.doc_id AND wr.i = cov.cp
               WHERE cov.cp IS NULL),
      per AS (SELECT doc_id, count(*)::BIGINT AS kept_words,
                     md5(string_agg(word, ' ' ORDER BY i)) AS clean_md5
              FROM kept GROUP BY doc_id),
      rem AS (SELECT doc_id, count(*)::BIGINT AS removed_words
              FROM cov GROUP BY doc_id)
      SELECT nw.doc_id, len(nw.w)::BIGINT AS n_words,
             coalesce(rem.removed_words, 0)::BIGINT AS removed_words,
             coalesce(per.kept_words, 0)::BIGINT AS kept_words,
             coalesce(per.clean_md5, md5('')) AS clean_md5,
             round(coalesce(rem.removed_words, 0)::DOUBLE / len(nw.w)::DOUBLE, 9)
               AS removed_ratio
      FROM nw LEFT JOIN per USING (doc_id) LEFT JOIN rem USING (doc_id)
      ORDER BY doc_id
    """.trim
    })

  /** Moving-average seasonal decomposition of the daily event-value
    * series ([[graft.etl.StatOps.seasonalDecompose]]): trend = centered
    * 7-day MA (full windows only), seasonal = per-phase mean of the
    * detrended values (phase = epoch-day mod 7 — engine-portable, no
    * day-of-week convention), residual = the rest. The monitoring tier
    * between dq5's MAD ("is this day extreme?") and q69's CUSUM ("did
    * the level shift?"): it answers "is this dip just the weekly
    * shape". Windows sort DAYS (the aggregate below them did the
    * fact-table pass), so the global order-by is ~10³ rows at any
    * corpus size.
    */
  val q68SeasonalDecompose = Q(
    "q68_seasonal_decompose",
    (s, dir) =>
      graft.etl.StatOps.seasonalDecompose(Fragments.dailyTotals(s, dir), "d", "total",
          period = 7, half = 3)
        .orderBy(col("d")),
    Some(s"""
      WITH ${Fragments.DailyTotalsCtes},
      m AS (SELECT d, total, count(*) OVER w AS n,
              sum(CAST(round(total, 9) AS DECIMAL(27,9))) OVER w AS s
            FROM daily WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      t AS (SELECT d, total,
              CASE WHEN n = 7 THEN round(s::DOUBLE / 7, 9) END AS trend,
              (date_diff('day', DATE '1970-01-01', d) % 7)::BIGINT AS phase
            FROM m),
      dt AS (SELECT d, total, trend, phase, round(total - trend, 9) AS detr FROM t),
      si AS (SELECT phase,
               round(sum(CAST(detr AS DECIMAL(27,9)))::DOUBLE / count(*), 9) AS seasonal
             FROM dt WHERE detr IS NOT NULL GROUP BY phase)
      SELECT dt.d, dt.total, dt.trend, dt.phase, si.seasonal,
             round(dt.detr - si.seasonal, 9) AS residual
      FROM dt LEFT JOIN si USING (phase) ORDER BY d
    """.trim))

  /** Two-sided CUSUM level-shift detector over the daily event-value
    * mean ([[graft.etl.StatOps.cusumChangepoints]]), with a
    * deterministically injected +8.0 shift on the series' last 8 days
    * (the injected-fault pattern of `text_pii_scrub`/`dq9`): the
    * detector must fire inside the shifted window and stay quiet long
    * before it — detection and its null case in one output. The
    * clamped CUSUM recursion rides its closed form P_t − min_{j≤t} P_j
    * (two running windows over the day frame), so there is no
    * recursion, no driver loop, and nothing that grows with corpus
    * size except the caller's aggregate.
    */
  val q69CusumChangepoint = Q(
    "q69_cusum_changepoint",
    (s, dir) => {
      graft.etl.StatOps.cusumChangepoints(Fragments.shiftedDailyMeans(s, dir),
          "d", "x", k = 0.5, h = 4.0)
        .orderBy(col("d"))
    },
    Some(s"""
      WITH ${Fragments.ShiftedDailyCtes},
      ${Fragments.CusumCtes},
      -- CASE, not least(): DuckDB least() demotes DECIMAL to DOUBLE
      r3 AS (SELECT d, x, mu, sd, pp, pn,
               CASE WHEN mp0 > 0 THEN CAST(0 AS DECIMAL(38,9)) ELSE mp0 END AS mp,
               CASE WHEN mn0 > 0 THEN CAST(0 AS DECIMAL(38,9)) ELSE mn0 END AS mn
             FROM r2)
      SELECT d, round(x, 9) AS x, round(mu, 9) AS mu, round(sd, 9) AS sd,
             (pp - mp)::DOUBLE AS cusum_pos, (pn - mn)::DOUBLE AS cusum_neg,
             (CASE WHEN (pp - mp)::DOUBLE > 4.0 * sd
                     OR (pn - mn)::DOUBLE > 4.0 * sd THEN 1 ELSE 0 END)::BIGINT
               AS changepoint
      FROM r3 ORDER BY d
    """.trim))

  /** K-fold out-of-fold target encoding of order priority against the
    * order-finished label ([[graft.etl.FeatureOps.targetEncodeOof]]):
    * the leakage-free categorical encoding a training job broadcast-
    * joins back onto its rows. Folds are md5-deterministic (the q22
    * discipline), so the encoding replays bit-identically from the
    * data alone; the fact-table cost is ONE map-side-combined
    * (category × fold) aggregate at any corpus size.
    */
  val featTargetEncode = Q(
    "feat_target_encode",
    (s, dir) =>
      graft.etl.FeatureOps.targetEncodeOof(
          Tables(s, dir, "orders"),
          "o_orderpriority",
          (col("o_orderstatus") === "F").cast("long"),
          graft.ext.Dedup.hash32(col("o_orderkey").cast("string")) % 5,
          smoothing = 20.0)
        .orderBy(col("cat"), col("fold")),
    Some("""
      WITH b AS (SELECT o_orderpriority AS cat,
               (CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS y,
               ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 5 AS fold
             FROM orders),
      cf AS (SELECT cat, fold, count(*)::BIGINT AS ncf, sum(y)::BIGINT AS scf
             FROM b GROUP BY 1, 2),
      ct AS (SELECT cat, sum(ncf)::BIGINT AS nc, sum(scf)::BIGINT AS sc
             FROM cf GROUP BY 1),
      ft AS (SELECT fold, sum(ncf)::BIGINT AS nf, sum(scf)::BIGINT AS sf
             FROM cf GROUP BY 1),
      g AS (SELECT sum(ncf)::BIGINT AS n, sum(scf)::BIGINT AS s FROM cf)
      SELECT cf.cat, cf.fold, (nc - ncf)::BIGINT AS n_oof,
             round((s - sf)::DOUBLE / (n - nf), 9) AS prior,
             round(((sc - scf)::DOUBLE + 20.0 * ((s - sf)::DOUBLE / (n - nf)))
                   / ((nc - ncf)::DOUBLE + 20.0), 9) AS enc
      FROM cf JOIN ct USING (cat) JOIN ft USING (fold), g
      ORDER BY cat, fold
    """.trim))

  /** Weight-of-evidence / information-value table for market segment
    * against the high-balance label ([[graft.etl.FeatureOps.woeIv]]) —
    * the feature-screening readout (which categoricals carry signal)
    * next to `feat_target_encode`'s encoding itself. One aggregate
    * over the table; ln rides the 9-dp round that keeps engine libm
    * disagreement out of the hash.
    */
  val featWoeIv = Q(
    "feat_woe_iv",
    (s, dir) =>
      graft.etl.FeatureOps.woeIv(
          Tables(s, dir, "customer"),
          "c_mktsegment",
          (col("c_acctbal") > 5000.0).cast("long"))
        .orderBy(col("cat")),
    Some("""
      WITH b AS (SELECT c_mktsegment AS cat,
               (CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END)::BIGINT AS y
             FROM customer),
      c AS (SELECT cat, count(*)::BIGINT AS n, sum(y)::BIGINT AS good
            FROM b GROUP BY 1),
      c2 AS (SELECT cat, n, good, (n - good)::BIGINT AS bad FROM c),
      g AS (SELECT sum(good)::BIGINT AS gg, sum(bad)::BIGINT AS bb FROM c2)
      SELECT cat, n, good, bad,
             round(ln(((good::DOUBLE + 0.5) / gg) / ((bad::DOUBLE + 0.5) / bb)), 9)
               AS woe,
             round(((good::DOUBLE + 0.5) / gg - (bad::DOUBLE + 0.5) / bb)
               * round(ln(((good::DOUBLE + 0.5) / gg) / ((bad::DOUBLE + 0.5) / bb)), 9), 9)
               AS iv_term
      FROM c2, g ORDER BY cat
    """.trim))

  /** Moments over positive-coordinate points only (lx/ly are NULL for
    * zero counts in the heaps lp) — mirrors olsSlope's x>0 && y>0
    * filter so a zero-count leading bucket can't poison the fit.
    */
  private val OlsSql =
    """f AS (SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
              sum(lx * ly) AS sxy, sum(lx * lx) AS sxx FROM lp
            WHERE lx IS NOT NULL AND ly IS NOT NULL)"""

  /** The trailing `+ 0.0` normalizes IEEE signed zero: DuckDB's binary
    * round keeps the sign of an exact-0-crossed-with-ulps numerator
    * (-0.0) while Spark's BigDecimal round emits +0.0 — byte-aware
    * hashes diverge on the degenerate constant-y fit without it.
    */
  private val SlopeSql =
    """(round((f.n * f.sxy::DOUBLE - f.sx::DOUBLE * f.sy::DOUBLE)
           / (f.n * f.sxx::DOUBLE - f.sx::DOUBLE * f.sx::DOUBLE), 9) + 0.0)"""

  /** Zipf head of the corpus ([[graft.ext.TextOps.zipfCurve]]): top-20
    * token frequencies with the fitted log-log slope — the corpus-
    * health one-look (natural prose ≈ −1; boilerplate floods flatten
    * it). TopK is distributed (orderBy+limit, no global window sort
    * over the vocabulary).
    */
  val evalZipfCurve = Q(
    "eval_zipf_curve",
    (s, dir) =>
      graft.ext.TextOps.zipfCurve(Tables(s, dir, "documents"),
          "doc_id", "text", topR = 20)
        .orderBy(col("rank")),
    Some(s"""
      WITH n AS (SELECT doc_id, ${Fragments.NormW} AS w FROM documents),
      tok AS (SELECT unnest(w) AS token FROM n),
      tf AS (SELECT token, count(*)::BIGINT AS freq FROM tok
             WHERE token <> '' GROUP BY token),
      top AS (SELECT token, freq,
                row_number() OVER (ORDER BY freq DESC, token)::BIGINT AS rank
              FROM tf ORDER BY freq DESC, token LIMIT 20),
      lp AS (SELECT rank, token, freq,
               CAST(round(ln(rank), 9) AS DECIMAL(18,9)) AS lx,
               CAST(round(ln(freq), 9) AS DECIMAL(18,9)) AS ly FROM top),
      $OlsSql
      SELECT lp.rank, lp.token, lp.freq, $SlopeSql AS zipf_slope
      FROM lp, f ORDER BY rank
    """.trim))

  /** Heaps vocabulary growth ([[graft.ext.TextOps.heapsGrowth]]):
    * cumulative vocabulary vs cumulative documents over 10 corpus
    * prefixes plus the fitted β — computed in ONE pass via each
    * token's first-seen document (no per-prefix distinct).
    */
  val evalHeapsGrowth = Q(
    "eval_heaps_growth",
    (s, dir) =>
      graft.ext.TextOps.heapsGrowth(Tables(s, dir, "documents"),
          "doc_id", "text", buckets = 10)
        .orderBy(col("bucket")),
    Some(s"""
      WITH nw AS (SELECT doc_id + 1 AS rk, ${Fragments.NormW} AS w FROM documents),
      mx AS (SELECT max(rk) AS nn FROM nw),
      dp AS (SELECT (floor((rk * 10 - 1) / nn::DOUBLE) + 1)::BIGINT AS bucket,
               count(*)::BIGINT AS nd
             FROM nw, mx GROUP BY 1),
      fs AS (SELECT token, min(rk) AS fsr
             FROM (SELECT rk, unnest(w) AS token FROM nw)
             WHERE token <> '' GROUP BY token),
      vp AS (SELECT (floor((fsr * 10 - 1) / nn::DOUBLE) + 1)::BIGINT AS bucket,
               count(*)::BIGINT AS nv
             FROM fs, mx GROUP BY 1),
      sp AS (SELECT unnest(range(1, 11))::BIGINT AS bucket),
      cum AS (SELECT sp.bucket,
                sum(coalesce(nd, 0)) OVER w AS n_docs0,
                sum(coalesce(nv, 0)) OVER w AS vocab0
              FROM sp LEFT JOIN dp USING (bucket) LEFT JOIN vp USING (bucket)
              WINDOW w AS (ORDER BY sp.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      lp AS (SELECT bucket, n_docs0::BIGINT AS n_docs, vocab0::BIGINT AS vocab,
               CASE WHEN n_docs0 > 0
                 THEN CAST(round(ln(n_docs0::BIGINT), 9) AS DECIMAL(18,9)) END AS lx,
               CASE WHEN vocab0 > 0
                 THEN CAST(round(ln(vocab0::BIGINT), 9) AS DECIMAL(18,9)) END AS ly FROM cum),
      $OlsSql
      SELECT lp.bucket, lp.n_docs, lp.vocab, $SlopeSql AS heaps_beta
      FROM lp, f ORDER BY bucket
    """.trim))

  /** Padding-waste economics ([[graft.ext.TextOps.paddingWaste]]):
    * arrival-order vs length-sorted batch formation at batch size 16
    * over 8 md5-deterministic shards (few enough that every shard
    * forms several batches at bench scale; production adds shards
    * with corpus size — the waste estimate is shard-count-invariant
    * once shards hold many batches) — the measured justification for
    * a length-grouped training loader on THIS corpus.
    */
  val evalPaddingWaste = Q(
    "eval_padding_waste",
    (s, dir) =>
      graft.ext.TextOps.paddingWaste(Tables(s, dir, "documents"),
          "doc_id", "text", batchSize = 16, shards = 8)
        .orderBy(col("strategy")),
    Some(s"""
      WITH b AS (SELECT doc_id AS id,
               len(${Fragments.NormW})::BIGINT AS nt,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard
             FROM documents),
      a1 AS (SELECT shard, nt,
               row_number() OVER (PARTITION BY shard ORDER BY id) AS rn FROM b),
      a3 AS (SELECT shard, ((rn - 1) // 16) AS bt, count(*)::BIGINT AS c,
               max(nt) AS mxt, sum(nt)::BIGINT AS s
             FROM a1 GROUP BY 1, 2),
      a4 AS (SELECT 'arrival' AS strategy, count(*)::BIGINT AS n_batches,
               sum(s)::BIGINT AS real_tokens,
               sum(mxt * c)::BIGINT AS padded_tokens FROM a3),
      s1 AS (SELECT shard, nt,
               row_number() OVER (PARTITION BY shard ORDER BY nt, id) AS rn FROM b),
      s3 AS (SELECT shard, ((rn - 1) // 16) AS bt, count(*)::BIGINT AS c,
               max(nt) AS mxt, sum(nt)::BIGINT AS s
             FROM s1 GROUP BY 1, 2),
      s4 AS (SELECT 'length_sorted' AS strategy, count(*)::BIGINT AS n_batches,
               sum(s)::BIGINT AS real_tokens,
               sum(mxt * c)::BIGINT AS padded_tokens FROM s3),
      u AS (SELECT * FROM a4 UNION ALL SELECT * FROM s4)
      SELECT strategy, n_batches, real_tokens, padded_tokens,
             round(1.0 - real_tokens::DOUBLE / padded_tokens, 9) AS waste_ratio
      FROM u ORDER BY strategy
    """.trim))

  /** Autocorrelation of the daily event-value series at lags 1..14
    * ([[graft.etl.StatOps.autocorrelation]]) — the periodicity FINDER
    * that closes the monitoring trio: q68 explains a cycle you name,
    * the ACF names it (the first strong peak's lag is the period).
    * One row-number self-join against a broadcast lag spine over the
    * tiny day frame; cross-moments in exact (18,9)² decimals.
    */
  val q70Autocorrelation = Q(
    "q70_autocorrelation",
    (s, dir) =>
      graft.etl.StatOps.autocorrelation(Fragments.dailyTotals(s, dir), "d", "total",
          maxLag = 14)
        .orderBy(col("lag_k")),
    Some(s"""
      WITH ${Fragments.DailyTotalsCtes},
      m AS (SELECT count(*) AS n, sum(CAST(round(total, 9) AS DECIMAL(27,9))) AS s
            FROM daily),
      dd AS (SELECT row_number() OVER (ORDER BY d) AS rn,
               CAST(round(total - (m.s::DOUBLE / m.n), 9) AS DECIMAL(18,9)) AS dev
             FROM daily, m),
      den AS (SELECT sum(dev * dev) AS dn FROM dd),
      sp AS (SELECT unnest(range(1, 15))::BIGINT AS lag_k),
      num AS (SELECT sp.lag_k, count(*)::BIGINT AS n_pairs,
                sum(a.dev * b.dev) AS nm
              FROM dd a, sp, dd b WHERE b.rn = a.rn - sp.lag_k
              GROUP BY sp.lag_k)
      SELECT lag_k, n_pairs, round(nm::DOUBLE / dn::DOUBLE, 9) AS acf
      FROM num, den ORDER BY lag_k
    """.trim))

  /** The monitoring capstone's composition, factored for the spec: the
    * three detectors over one daily series reduced to per-day flags —
    *
    *   z_flag     |x − μ| > 2σ          (is the day extreme at all?)
    *   resid_flag |residual| > 2σ_resid (extreme AFTER trend + weekly
    *                                     shape are explained away)
    *   cusum_flag CUSUM alarm            (part of a sustained shift?)
    *
    * verdict: anomaly (≥ 2 flags) / watch (1) / ok (0). All thresholds
    * compare the detectors' own 9-dp-rounded outputs, so the scorecard
    * is engine-exact by construction. Every component is one window or
    * aggregate over the tiny day frame — the fact-table pass is the
    * caller's aggregate (the `pipeline_release_gate` shape, applied to
    * monitoring).
    */
  private[graft] def anomalyReport(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // deliberately NOT checkpointed: truncating the day frame's lineage
    // would hide its Aggregate from the windows above it, making the
    // detectors' global day-sorts indistinguishable (to the plan lint
    // and to a reader) from a window over raw facts; the repeated
    // events aggregate is the price of a provably aggregate-below plan,
    // and a production deployment feeds a persisted daily rollup here
    val cus = graft.etl.StatOps.cusumChangepoints(daily, "d", "x",
        k = 0.5, h = 4.0)
      .select(col("d"), col("x"), col("mu"), col("sd"),
        col("changepoint").as("cusum_flag"))
    val sea = graft.etl.StatOps.seasonalDecompose(daily, "d", "x",
        period = 7, half = 3)
      .select(col("d"), col("residual"))
    val dec = DecimalType(27, 9)
    val dsq = DecimalType(18, 9)
    val rm = sea.filter(col("residual").isNotNull)
      .agg(count(lit(1)).as("__rn"),
        sum(col("residual").cast(dec)).as("__rs"),
        sum(col("residual").cast(dsq) * col("residual").cast(dsq)).as("__rq"))
    val sdr = round(sqrt((col("__rq").cast("double") -
      col("__rs").cast("double") * col("__rs").cast("double") /
        col("__rn").cast("double")) /
      (col("__rn").cast("double") - lit(1.0))), 9)
    cus.join(sea, Seq("d"))
      .crossJoin(broadcast(rm))
      .withColumn("z_flag",
        (abs(col("x") - col("mu")) > lit(2.0) * col("sd")).cast("long"))
      .withColumn("resid_flag",
        coalesce((abs(col("residual")) > lit(2.0) * sdr).cast("long"), lit(0L)))
      .withColumn("n_flags",
        col("z_flag") + col("resid_flag") + col("cusum_flag"))
      .withColumn("verdict",
        when(col("n_flags") >= 2, "anomaly")
          .when(col("n_flags") === 1, "watch").otherwise("ok"))
      .select(col("d"), col("x"), col("z_flag"), col("resid_flag"),
        col("cusum_flag"), col("n_flags"), col("verdict"))
  }

  /** Day-level anomaly scorecard over the injected-shift daily series
    * (q69's fixture): the three monitoring detectors voting per day.
    * The shifted tail must read `anomaly`/`watch`, the quiet head `ok`
    * — detection and its null case in one report.
    */
  val pipelineAnomalyReport = Q(
    "pipeline_anomaly_report",
    (s, dir) => {
      anomalyReport(Fragments.shiftedDailyMeans(s, dir)).orderBy(col("d"))
    },
    Some(s"""
      WITH ${Fragments.ShiftedDailyCtes},
      ${Fragments.CusumCtes},
      r3 AS (SELECT d, x, mu, sd, pp, pn,
               CASE WHEN mp0 > 0 THEN CAST(0 AS DECIMAL(38,9)) ELSE mp0 END AS mp,
               CASE WHEN mn0 > 0 THEN CAST(0 AS DECIMAL(38,9)) ELSE mn0 END AS mn
             FROM r2),
      fin AS (SELECT d, round(x, 9) AS x, round(mu, 9) AS mu, round(sd, 9) AS sd,
                (CASE WHEN (pp - mp)::DOUBLE > 4.0 * sd
                        OR (pn - mn)::DOUBLE > 4.0 * sd THEN 1 ELSE 0 END)::BIGINT
                  AS cusum_flag
              FROM r3),
      m2 AS (SELECT d, x, count(*) OVER w AS n7,
               sum(CAST(round(x, 9) AS DECIMAL(27,9))) OVER w AS s7
             FROM dl WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      t2 AS (SELECT d, x, CASE WHEN n7 = 7 THEN round(s7::DOUBLE / 7, 9) END AS trend,
               (date_diff('day', DATE '1970-01-01', d) % 7)::BIGINT AS phase
             FROM m2),
      dt2 AS (SELECT d, x, trend, phase, round(x - trend, 9) AS detr FROM t2),
      si AS (SELECT phase,
               round(sum(CAST(detr AS DECIMAL(27,9)))::DOUBLE / count(*), 9) AS seasonal
             FROM dt2 WHERE detr IS NOT NULL GROUP BY phase),
      res AS (SELECT dt2.d, round(dt2.detr - si.seasonal, 9) AS residual
              FROM dt2 LEFT JOIN si USING (phase)),
      rm AS (SELECT count(*) AS rn, sum(CAST(residual AS DECIMAL(27,9))) AS rs,
               sum(CAST(residual AS DECIMAL(18,9)) * CAST(residual AS DECIMAL(18,9))) AS rq
             FROM res WHERE residual IS NOT NULL),
      sr AS (SELECT round(sqrt((rq::DOUBLE - rs::DOUBLE * rs::DOUBLE / rn)
                      / (rn - 1.0)), 9) AS sdr FROM rm),
      fl AS (SELECT fin.d, fin.x,
               (CASE WHEN abs(fin.x - fin.mu) > 2.0 * fin.sd THEN 1 ELSE 0 END)::BIGINT
                 AS z_flag,
               (CASE WHEN abs(res.residual) > 2.0 * sr.sdr THEN 1 ELSE 0 END)::BIGINT
                 AS resid_flag,
               fin.cusum_flag
             FROM fin JOIN res USING (d), sr)
      SELECT d, x, z_flag, resid_flag, cusum_flag,
             (z_flag + resid_flag + cusum_flag)::BIGINT AS n_flags,
             CASE WHEN z_flag + resid_flag + cusum_flag >= 2 THEN 'anomaly'
                  WHEN z_flag + resid_flag + cusum_flag = 1 THEN 'watch'
                  ELSE 'ok' END AS verdict
      FROM fl ORDER BY d
    """.trim))

  private val PrfTerms = Seq("vector", "stream")

  /** BM25 with pseudo-relevance feedback
    * ([[graft.ext.TextOps.bm25Prf]]): base query → top-5 feedback docs
    * → 3 highest-tf expansion terms → final ranking over base ∪
    * expansion. Serves from the persisted inverted index (ingest
    * builds, queries probe); expansion evidence is all-integer so the
    * whole two-round pipeline is deterministic and the oracle replays
    * it term-for-term.
    */
  val textBm25Prf = Q(
    "text_bm25_prf",
    (s, dir) => {
      val (postsDir, statsDir) = Breadth7.ensureTextIndex(s, dir)
      graft.ext.TextOps.bm25Prf(s.read.parquet(postsDir),
          s.read.parquet(statsDir), "doc_id", PrfTerms,
          feedbackK = 5, expandE = 3, k = 25)
        .orderBy(col("rank"))
    },
    Some {
      val inList = PrfTerms.map(t => s"'$t'").mkString(", ")
      s"""
      WITH ${Fragments.sqlBm25BaseCtes()},
      tfall AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
      tf0 AS (SELECT * FROM tfall WHERE term IN ($inList)),
      df0 AS (SELECT term, count(*) AS df_docs FROM tf0 GROUP BY term),
      sc0 AS (SELECT tf0.doc_id, round(${Fragments.Bm25Formula}, 9) AS score_t
              FROM tf0 JOIN df0 USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
      agg0 AS (SELECT doc_id, CAST(sum(CAST(score_t AS DECIMAL(27,9))) AS DOUBLE) AS score
               FROM sc0 GROUP BY doc_id),
      fb AS (SELECT doc_id FROM agg0 ORDER BY score DESC, doc_id LIMIT 5),
      exp AS (SELECT term FROM tfall JOIN fb USING (doc_id)
              WHERE term NOT IN ($inList)
              GROUP BY term ORDER BY sum(tf) DESC, term LIMIT 3),
      qt AS (SELECT term FROM exp UNION SELECT unnest([$inList]) AS term),
      tf2 AS (SELECT tfall.* FROM tfall JOIN qt USING (term)),
      df2 AS (SELECT term, count(*) AS df_docs FROM tf2 GROUP BY term),
      sc2 AS (SELECT tf2.doc_id, round(${Fragments.Bm25Formula}, 9) AS score_t
              FROM tf2 JOIN df2 USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
      agg2 AS (SELECT doc_id, CAST(sum(CAST(score_t AS DECIMAL(27,9))) AS DOUBLE) AS score
               FROM sc2 GROUP BY doc_id),
      topk AS (SELECT doc_id, score FROM agg2 ORDER BY score DESC, doc_id LIMIT 25)
      SELECT row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS rank, doc_id, score
      FROM topk ORDER BY rank
    """.trim
    })

  /** Parent/child money reconciliation: recompute each order's total
    * from its lineitems (extendedprice · (1+tax) · (1−discount),
    * 9-dp-exact per line, cent-rounded after the exact decimal fold) and audit the gap against
    * o_totalprice per order status — the cross-table consistency rung
    * dq2's referential orphans doesn't cover (a child can exist AND
    * not add up). On this synthetic corpus the identity does NOT hold
    * — the audit's honest product is the mismatch magnitude readout
    * (like dq2 reporting real orphans), and 257 orders have no
    * lineitems at sf0.01. One lineitem aggregate + one keyed join.
    */
  /** dq16's composition, factored for the spec. Per-line rounding at
    * 9 dp, NOT 2: the true product has <= 6 decimal digits (2dp price
    * x 2dp tax x 2dp discount), so the 9-dp grid recovers it exactly
    * in both engines, while cent-rounding the raw double lands on
    * .xx5 boundaries where Spark (decimal-string HALF_UP) and DuckDB
    * (binary) disagree; the cent round then applies to the EXACT
    * decimal sum, and the gap never exists as a bare double.
    */
  private[graft] def reconciliationAudit(orders: org.apache.spark.sql.DataFrame,
      lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val li = lineitem.groupBy(col("l_orderkey"))
      .agg(round(sum(round(col("l_extendedprice") * (lit(1.0) + col("l_tax")) *
        (lit(1.0) - col("l_discount")), 9).cast(DecimalType(27, 9))), 2)
        .cast(DecimalType(18, 2)).as("calc"))
    orders
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("gap",
        abs(col("o_totalprice").cast(DecimalType(18, 2)) - col("calc")))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("calc").isNull.cast("long")).as("n_no_lines"),
        sum((col("gap") < 0.01).cast("long")).as("n_reconciled"),
        sum((col("gap") >= 0.01).cast("long")).as("n_mismatched"),
        sum(col("gap")).cast("double").as("sum_abs_gap"),
        max(col("gap")).cast("double").as("max_abs_gap"))
  }

  val dq16Reconciliation = Q(
    "dq16_reconciliation",
    (s, dir) => reconciliationAudit(
      Tables(s, dir, "orders"), Tables(s, dir, "lineitem"))
      .orderBy(col("o_orderstatus")),
    Some("""
      WITH li AS (SELECT l_orderkey,
              CAST(round(sum(CAST(round(l_extendedprice * (1.0 + l_tax) * (1.0 - l_discount), 9)
                AS DECIMAL(27,9))), 2) AS DECIMAL(18,2)) AS calc
            FROM lineitem GROUP BY 1),
      j AS (SELECT o_orderstatus, calc,
              abs(CAST(o_totalprice AS DECIMAL(18,2)) - calc) AS gap
            FROM orders LEFT JOIN li ON o_orderkey = l_orderkey)
      SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
             sum(CASE WHEN calc IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_no_lines,
             sum(CASE WHEN gap IS NULL THEN NULL
                      WHEN gap < 0.01 THEN 1 ELSE 0 END)::BIGINT AS n_reconciled,
             sum(CASE WHEN gap IS NULL THEN NULL
                      WHEN gap >= 0.01 THEN 1 ELSE 0 END)::BIGINT AS n_mismatched,
             CAST(sum(gap) AS DOUBLE) AS sum_abs_gap,
             CAST(max(gap) AS DOUBLE) AS max_abs_gap
      FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus
    """.trim))

  /** Per-source boilerplate scrub over a deterministically "lined"
    * corpus ([[graft.ext.TextOps.boilerplateScrubBySource]]). The
    * fixture injects BOTH semantics the per-domain threshold must
    * separate: a source-specific banner on half of each source's docs
    * (50% ≥ 25% ⇒ scrubbed) and a cross-source promo line on every
    * 9th doc (~11% of EACH source ⇒ kept — though its GLOBAL count is
    * far above `text_line_dedup`'s minDocs, so the two tiers provably
    * differ on this corpus). Every 97th doc is REPLACED by the bare
    * banner — an all-boilerplate document whose every line is
    * scrubbed, pinning the n_kept = 0 edge where Spark's
    * collect_list-of-nulls gives md5('') but a FILTERed list aggregate
    * gives md5(NULL) = NULL unless coalesced (ADVICE r13). Cleaned
    * text is md5-pinned per document.
    */
  val textBoilerplateScrub = Q(
    "text_boilerplate_scrub",
    (s, dir) => {
      val lined = Tables(s, dir, "documents").select(col("doc_id"),
        col("source"),
        when(col("doc_id") % 97 === 0,
          concat(lit("visit "), col("source"), lit(" homepage")))
        .otherwise(concat(
          when(col("doc_id") % 2 === 0,
            concat(lit("visit "), col("source"), lit(" homepage\n")))
            .otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 9 === 0, lit("\nlimited time offer"))
            .otherwise(lit("")))).as("text"))
      graft.ext.TextOps.boilerplateScrubBySource(lined, "doc_id", "source",
          "text", fracPct = 25)
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH lined AS (SELECT doc_id, source,
             CASE WHEN doc_id % 97 = 0 THEN 'visit ' || source || ' homepage'
               ELSE
                 (CASE WHEN doc_id % 2 = 0 THEN 'visit ' || source || ' homepage' || chr(10) ELSE '' END) ||
                 text ||
                 (CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'limited time offer' ELSE '' END)
             END AS text
           FROM documents),
      ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS a FROM lined),
      l AS (SELECT doc_id, source, i AS pos,
              regexp_replace(trim(lower(a[i+1])), '\s+', ' ', 'g') AS norm
            FROM (SELECT doc_id, source, a, unnest(range(len(a))) AS i FROM ls)),
      sz AS (SELECT source, count(*) AS nd FROM lined GROUP BY 1),
      f AS (SELECT source, md5(norm) AS h, count(DISTINCT doc_id) AS dfd
            FROM l GROUP BY 1, 2),
      bp AS (SELECT source, h FROM f JOIN sz USING (source)
             WHERE dfd * 100 >= 25 * nd AND dfd >= 2),
      k AS (SELECT l.doc_id, l.source, l.pos, l.norm, bp.h IS NULL AS kept
            FROM l LEFT JOIN bp ON l.source = bp.source AND md5(l.norm) = bp.h)
      SELECT doc_id, source, count(*)::BIGINT AS n_lines,
             sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             md5(coalesce(array_to_string(list(norm ORDER BY pos) FILTER (WHERE kept),
                 chr(10)), '')) AS cleaned_md5
      FROM k GROUP BY doc_id, source ORDER BY doc_id
    """.trim))

  /** Horvitz–Thompson estimates from the q47 PPS-systematic design
    * ([[graft.etl.SampleOps.ppsSystematicHits]]): each sampled unit
    * contributes hits · y · X / (S · w) where S is the REALIZED
    * Σ hits — not the nominal n, which only equals S when
    * total mod n < floor(total/n) (roughly total ≥ n²); dividing by
    * the realized draw count keeps the size-measure estimate exact by
    * construction at any total. Everything is integer evidence until
    * one double expression per term.
    */
  val evalHtEstimate = Q(
    "eval_ht_estimate",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val docs = Tables(s, dir, "documents")
      val sampleN = 100
      // ≤ n sampled units; checkpoint so the PPS prefix-sum pipeline runs
      // once — both the realized-Σhits aggregate and the estimate read it
      // (ADVICE r14: the deterministic sample was recomputed twice)
      val hits = graft.etl.SampleOps.ppsSystematicHits(docs, "doc_id",
        "n_chars", n = sampleN).localCheckpoint()
      val realized = hits.agg(sum(col("hits")).as("__sh"))
      val exact = docs.agg(count(lit(1)).as("__n"),
        sum(col("n_chars")).as("__chars"))
      def ht(yOverW: org.apache.spark.sql.Column) =
        sum(round(col("hits").cast("double") * yOverW *
          col("w_total").cast("double") / col("__sh").cast("double"), 9)
          .cast(DecimalType(27, 9))).cast("double")
      val est = hits.crossJoin(broadcast(realized)).agg(
        ht(lit(1.0) / col("weight").cast("double")).as("__est_n"),
        ht(lit(1.0)).as("__est_chars"))
      val spark = s
      import spark.implicits._
      est.crossJoin(broadcast(exact))
        .select(
          explode(array(
            struct(lit("n_docs").as("metric"),
              col("__n").cast("double").as("exact"),
              col("__est_n").as("estimate")),
            struct(lit("total_chars").as("metric"),
              col("__chars").cast("double").as("exact"),
              col("__est_chars").as("estimate")))).as("r"))
        .select(col("r.metric").as("metric"), col("r.exact").as("exact"),
          col("r.estimate").as("estimate"))
        .withColumn("rel_err",
          round((col("estimate") - col("exact")) / col("exact"), 9))
        .orderBy(col("metric"))
    },
    Some(s"""
      WITH ${Fragments.PpsWeightsCte},
      h AS (SELECT doc_id, weight, total,
              (floor(cend / (total // 100)) - floor((cend - weight) / (total // 100)))::BIGINT AS hits
            FROM w
            WHERE floor((cend - weight) / (total // 100)) < floor(cend / (total // 100))),
      sh AS (SELECT sum(hits)::BIGINT AS s FROM h),
      est AS (SELECT
          CAST(sum(CAST(round(hits::DOUBLE * (1.0 / weight) * total / s::DOUBLE, 9)
            AS DECIMAL(27,9))) AS DOUBLE) AS est_n,
          CAST(sum(CAST(round(hits::DOUBLE * 1.0 * total / s::DOUBLE, 9)
            AS DECIMAL(27,9))) AS DOUBLE) AS est_chars
        FROM h, sh),
      ex AS (SELECT count(*)::DOUBLE AS exact_n, sum(n_chars::BIGINT)::DOUBLE AS exact_chars
             FROM documents),
      u AS (SELECT 'n_docs' AS metric, exact_n AS exact, est_n AS estimate FROM est, ex
            UNION ALL
            SELECT 'total_chars', exact_chars, est_chars FROM est, ex)
      SELECT metric, exact, estimate,
             round((estimate - exact) / exact, 9) AS rel_err
      FROM u ORDER BY metric
    """.trim))

  val all: Seq[Q] = Seq(dedupSpanRemoval, q68SeasonalDecompose,
    q69CusumChangepoint, featTargetEncode, featWoeIv, evalZipfCurve,
    evalHeapsGrowth, evalPaddingWaste, q70Autocorrelation,
    pipelineAnomalyReport, textBm25Prf, dq16Reconciliation,
    textBoilerplateScrub, evalHtEstimate)
}
