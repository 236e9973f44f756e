package graft.queries

import graft.etl.{SampleOps, Tables}
import org.apache.spark.sql.functions._

/** Round-4 breadth: customer-order distribution (TPC-H Q13's
  * count-of-counts shape), ordered event funnels, weighted systematic
  * sampling, and the bivariate statistical aggregate family — each a
  * one-or-two-shuffle plan whose partitioning survives a 100 TB input.
  */
object Breadth6 {

  /** TPC-H Q13 (order-count distribution): left join so order-less
    * customers land in the 0 bucket, per-customer count, then a
    * count-of-counts. Two hash aggregates, each partitioned by its own
    * grouping key; the first reuses the join's c_custkey clustering.
    */
  val q45CustOrderDist = Q(
    "q45_cust_order_dist",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """.trim))

  /** Ordered three-stage event funnel (signup → click → purchase,
    * strictly-after semantics): each stage is a per-user min-timestamp
    * aggregate semi-joined to the previous stage's completions. All
    * three joins cluster on user_id, so one shuffle partitioning
    * carries the whole funnel; stage tables shrink monotonically.
    */
  val q46EventFunnel = Q(
    "q46_event_funnel",
    (s, dir) =>
      graft.etl.EventOps.funnel(Tables(s, dir, "events"),
          "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))
        .groupBy(col("stage")).agg(count(lit(1)).as("users"))
        .orderBy(col("stage")),
    Some("""
      WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                  WHERE event_type = 'signup' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
      SELECT stage, count(*) AS users FROM (
        SELECT '1_signup' AS stage, user_id FROM s1
        UNION ALL SELECT '2_click', user_id FROM s2
        UNION ALL SELECT '3_purchase', user_id FROM s3)
      GROUP BY stage ORDER BY stage
    """.trim))

  /** Per-user funnel stage completions — the row-level frame underneath
    * q46's aggregate, and the BATCH SIDE of the streaming equivalence:
    * CatalogStreamingSpec proves `StreamingOps.streamingFunnel`'s
    * finalized output equals exactly this (user, stage, completed_at)
    * set, so oracling it keeps the streaming operator's strictly-after
    * semantics pinned by the driver too, not just by ScalaTest.
    */
  val q52FunnelUserStages = Q(
    "q52_funnel_user_stages",
    (s, dir) =>
      graft.etl.EventOps.funnel(Tables(s, dir, "events"),
          "user_id", "event_type", "ts", Seq("signup", "click", "purchase"))
        .orderBy(col("stage_idx"), col("user_id")),
    Some("""
      WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                  WHERE event_type = 'signup' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
      SELECT stage_idx, stage, user_id, t AS completed_at FROM (
        SELECT 1 AS stage_idx, '1_signup' AS stage, user_id, t FROM s1
        UNION ALL SELECT 2, '2_click', user_id, t FROM s2
        UNION ALL SELECT 3, '3_purchase', user_id, t FROM s3)
      ORDER BY stage_idx, user_id
    """.trim))

  /** Weighted systematic (PPS) sample of ~100 documents, selection
    * probability proportional to n_chars — integer-only arithmetic
    * (cumulative weights + stride boundaries), so the sample is
    * bit-reproducible across engines/runs/partitionings, unlike any
    * rand()-based weighted pick. The prefix sum is distributed
    * (SampleOps), never a single-task global window.
    */
  val q47PpsSample = Q(
    "q47_pps_sample",
    (s, dir) =>
      SampleOps.ppsSystematicSample(Tables(s, dir, "documents"),
          "doc_id", "n_chars", n = 100)
        .orderBy(col("doc_id")),
    Some(s"""
      WITH ${Fragments.PpsWeightsCte}
      SELECT doc_id, weight FROM w
      WHERE floor((cend - weight) / (total // 100)) < floor(cend / (total // 100))
      ORDER BY doc_id
    """.trim))

  /** Bivariate/statistical aggregate family: correlation, sample
    * covariance/variance/stddev and the regression line, one shuffle.
    * Moment aggregates merge partial states (Welford-style) so they
    * distribute; cross-engine float drift is bounded well below the
    * 6 dp the output rounds to.
    */
  val t11StatAggs = Q(
    "t11_stat_aggs",
    (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("covar_qp"),
          round(stddev_samp(col("l_discount")), 6).as("sd_disc"),
          round(var_samp(col("l_discount")), 6).as("var_disc"),
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope_pq"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6).as("icept_pq"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
             round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qp,
             round(stddev_samp(l_discount), 6) AS sd_disc,
             round(var_samp(l_discount), 6) AS var_disc,
             round(regr_slope(l_extendedprice, l_quantity), 6) AS slope_pq,
             round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept_pq
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.trim))

  /** JSONL round-trip with corrupt-line quarantine: documents export as
    * JSON lines (the wire format of web-scrape corpora), three garbage
    * lines are injected, and the PERMISSIVE read splits clean rows from
    * quarantine. The clean aggregate must match DuckDB over the original
    * parquet; the quarantine count rides along as a column (a corrupt
    * line must never kill a 100 TB scan — and never silently vanish
    * either).
    */
  val srcJsonlRoundtrip = Q(
    "src_jsonl_roundtrip",
    (s, dir) => {
      // Per-run artifact: content depends on the writer code AND an
      // injected fixture, so it must never be reused across builds. The
      // Spark-written `_SUCCESS` is dropped before the injection and the
      // run-dir's own completion marker is created only after the whole
      // closure — so a dir with clean lines but no corrupt ones can
      // never be mistaken for complete, even within one JVM.
      val d = graft.etl.LayoutOps.ensureRunDir(s, dir, "documents_jsonl") { out =>
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .coalesce(1).write.json(out)
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(out, "_SUCCESS"), false)
        val bad = fs.create(new org.apache.hadoop.fs.Path(out, "part-bad.json"))
        bad.write("not json at all\n{\"doc_id\": oops}\n{truncated\n".getBytes("UTF-8"))
        bad.close()
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val (clean, bad) = graft.sources.JsonlSource.splitCorrupt(
        graft.sources.JsonlSource.readJsonl(s, d, schema))
      clean.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(bad.agg(count(lit(1)).as("n_quarantined"))))
        .orderBy(col("lang"))
    },
    Some("""
      SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(3 AS BIGINT) AS n_quarantined
      FROM documents GROUP BY lang ORDER BY lang
    """.trim))

  /** Incremental rollup maintenance (the materialized-view pattern):
    * history is kept as a PARTIAL aggregate table — decimal sums +
    * counts, mergeable — and each refresh aggregates only the delta and
    * merges. The merged result must equal a full recompute (oracle).
    * At 100 TB this is the difference between scanning seven years and
    * scanning one day; it works because sum/count partials form a
    * monoid, exactly like Spark's own partial aggregation.
    */
  val q48IncrementalRollup = Q(
    "q48_incremental_rollup",
    (s, dir) => {
      val cut = lit("1997-01-01").cast("timestamp")
      val base = graft.etl.LayoutOps.ensureRunDir(s, dir, "orders_rollup_base") { out =>
        Tables(s, dir, "orders").filter(col("o_orderdate") < cut)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("part_sum"),
            count(lit(1)).as("part_n"))
          .write.parquet(out)
      }
      val delta = Tables(s, dir, "orders").filter(col("o_orderdate") >= cut)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("part_sum"),
          count(lit(1)).as("part_n"))
      s.read.parquet(base).unionByName(delta)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("part_sum")).cast("double").as("total_price"),
          sum(col("part_n")).as("n"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
             count(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """.trim))

  /** Data-quality: declarative range-rule audit — one scan computes
    * every rule's violation count and the observed min/max (the evidence
    * a data steward needs), stacked to one row per rule. Rules are
    * conjunction-free per-row predicates, so the audit is a pure
    * map-side aggregate regardless of table size.
    */
  val dq3RangeAudit = Q(
    "dq3_range_audit",
    (s, dir) => {
      val l = Tables(s, dir, "lineitem")
      val one = l.agg(
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 40, 1L)
          .otherwise(0L)).as("qty_viol"),
        min(col("l_quantity")).as("qty_min"), max(col("l_quantity")).as("qty_max"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.05, 1L)
          .otherwise(0L)).as("disc_viol"),
        min(col("l_discount")).as("disc_min"), max(col("l_discount")).as("disc_max"),
        sum(when(col("l_tax") < 0 || col("l_tax") > 0.06, 1L)
          .otherwise(0L)).as("tax_viol"),
        min(col("l_tax")).as("tax_min"), max(col("l_tax")).as("tax_max"))
      one.select(expr(
        "stack(3," +
          " 'l_quantity in [1,40]', qty_viol, qty_min, qty_max," +
          " 'l_discount in [0,0.05]', disc_viol, disc_min, disc_max," +
          " 'l_tax in [0,0.06]', tax_viol, tax_min, tax_max" +
          ") AS (rule, n_violations, observed_min, observed_max)"))
        .orderBy(col("rule"))
    },
    Some("""
      SELECT rule, n_violations, observed_min, observed_max FROM (
        SELECT 'l_quantity in [1,40]' AS rule,
               sum(CASE WHEN l_quantity < 1 OR l_quantity > 40 THEN 1 ELSE 0 END)::BIGINT AS n_violations,
               min(l_quantity) AS observed_min, max(l_quantity) AS observed_max FROM lineitem
        UNION ALL
        SELECT 'l_discount in [0,0.05]',
               sum(CASE WHEN l_discount < 0 OR l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT,
               min(l_discount), max(l_discount) FROM lineitem
        UNION ALL
        SELECT 'l_tax in [0,0.06]',
               sum(CASE WHEN l_tax < 0 OR l_tax > 0.06 THEN 1 ELSE 0 END)::BIGINT,
               min(l_tax), max(l_tax) FROM lineitem)
      ORDER BY rule
    """.trim))

  /** Data-quality: categorical distribution drift between two periods
    * (the monitor that catches a broken upstream feed): per-category
    * share in each window and the absolute share delta. Counts are
    * exact; each share is one double division; 9 dp rounding pins the
    * cross-engine bit.
    */
  val dq4DistributionDrift = Q(
    "dq4_distribution_drift",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      // windows: 1995 vs 1996; one scan, conditional counts
      val agg = o.filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L)).as("n_a"),
          sum(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L)).as("n_b"))
      val tot = agg.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
      agg.crossJoin(broadcast(tot))
        .select(col("o_orderpriority"),
          col("n_a"), col("n_b"),
          round(col("n_a").cast("double") / col("t_a"), 9).as("share_a"),
          round(col("n_b").cast("double") / col("t_b"), 9).as("share_b"),
          round(abs(col("n_a").cast("double") / col("t_a") -
            col("n_b").cast("double") / col("t_b")), 9).as("share_drift"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      WITH agg AS (
        SELECT o_orderpriority,
               sum(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END)::BIGINT AS n_a,
               sum(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)::BIGINT AS n_b
        FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        GROUP BY o_orderpriority),
      tot AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM agg)
      SELECT o_orderpriority, n_a, n_b,
             round(n_a / t_a, 9) AS share_a,
             round(n_b / t_b, 9) AS share_b,
             round(abs(n_a / t_a - n_b / t_b), 9) AS share_drift
      FROM agg, tot ORDER BY o_orderpriority
    """.trim))

  /** Bitwise function family: per-row shifts/and/or/xor composed into a
    * mixed key, plus the bit_and / bit_or / bit_xor aggregates — the
    * tooling of bitmap/flag columns. Pure integer arithmetic, bit-exact
    * across engines by construction.
    */
  val t12BitwiseFuncs = Q(
    "t12_bitwise_funcs",
    (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          shiftleft(col("l_suppkey"), 3)
            .bitwiseOR(shiftright(col("l_partkey"), 2))
            .bitwiseXOR(col("l_orderkey")).as("bit_mix"))
        .groupBy((col("l_orderkey") % 7).as("grp"))
        .agg(expr("bit_and(l_partkey)").as("agg_and"),
          expr("bit_or(l_suppkey)").as("agg_or"),
          expr("bit_xor(bit_mix)").as("agg_xor"),
          count(lit(1)).as("n"))
        .orderBy(col("grp")),
    Some("""
      SELECT l_orderkey % 7 AS grp,
             bit_and(l_partkey) AS agg_and,
             bit_or(l_suppkey) AS agg_or,
             bit_xor(xor((l_suppkey << 3) | (l_partkey >> 2), l_orderkey)) AS agg_xor,
             count(*) AS n
      FROM lineitem GROUP BY grp ORDER BY grp
    """.trim))

  /** BFS layer counts over the order↔part bipartite graph (orders as
    * positive node ids, parts negated), three hops from the smallest
    * orderkey. Each round is a frontier equi join + visited anti join —
    * cost bounded by frontier adjacency, not graph size — making this
    * the traversal-shaped sibling of the connected-components rounds.
    * The oracle replays it as a depth-capped recursive CTE with a
    * min-distance rollup (the BFS first-discovery invariant).
    */
  val q49BfsLayers = Q(
    "q49_bfs_layers",
    (s, dir) => {
      val l = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val edges = l.select(col("l_orderkey").as("src"), (-col("l_partkey")).as("dst"))
        .unionByName(l.select((-col("l_partkey")).as("src"), col("l_orderkey").as("dst")))
      val src = l.agg(min(col("l_orderkey")).as("node"))
      graft.ext.GraphOps.bfsLayers(edges, src, maxDepth = 3)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .orderBy(col("dist"))
    },
    Some("""
      WITH RECURSIVE e AS (
        SELECT l_orderkey AS src, -l_partkey AS dst FROM lineitem
        UNION ALL SELECT -l_partkey, l_orderkey FROM lineitem),
      walk(node, dist) AS (
        SELECT (SELECT min(l_orderkey) FROM lineitem) AS node, 0 AS dist
        UNION
        SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node
        WHERE w.dist < 3),
      m AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node)
      SELECT dist, count(*) AS n_nodes, min(node) AS min_node, max(node) AS max_node
      FROM m GROUP BY dist ORDER BY dist
    """.trim))

  /** Temporal arithmetic family (completing t2's part extraction):
    * calendar-aware month addition (clamps at month end in both
    * engines), month-end/quarter-start anchors, ISO week, day offsets,
    * and day-of-week normalized to Sunday=0 (Spark counts 1-7 from
    * Sunday, DuckDB 0-6 — the projection pins one convention).
    */
  val t13TemporalArith = Q(
    "t13_temporal_arith",
    (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          add_months(col("o_orderdate"), 2).as("plus2m"),
          last_day(col("o_orderdate")).as("month_end"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          date_add(col("o_orderdate").cast("date"), 45).as("plus45d"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("q_start"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow_sun0"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
             last_day(CAST(o_orderdate AS DATE)) AS month_end,
             weekofyear(o_orderdate)::BIGINT AS iso_week,
             CAST(o_orderdate AS DATE) + 45 AS plus45d,
             CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start,
             dayofweek(o_orderdate)::BIGINT AS dow_sun0
      FROM orders ORDER BY o_orderkey
    """.trim))

  /** Latest-record-per-key dedup (the snapshot-from-a-change-log idiom,
    * SQL QUALIFY): one window shuffle on the key, deterministic
    * (date, key) tiebreak. This is the compaction step every CDC
    * pipeline runs; at scale the window partitioning IS the table's
    * natural clustering, so downstream joins reuse it.
    */
  val u8LatestPerKey = Q(
    "u8_latest_per_key",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables(s, dir, "orders")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus"))
        .orderBy(col("o_custkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
      FROM orders
      QUALIFY row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
      ORDER BY o_custkey
    """.trim))

  /** Fixed-width record round-trip (the legacy mainframe/export
    * format): rows serialize to a padded fixed-width line, then parse
    * back by column positions — both directions pure per-row string
    * ops, and the parse must recover the typed values exactly (money
    * travels as integer cents so no float formatting is involved).
    */
  val p31FixedWidth = Q(
    "p31_fixed_width_parse",
    (s, dir) => {
      val line = concat(
        lpad(col("o_orderkey").cast("string"), 10, "0"),
        col("o_orderstatus"),
        lpad(round(col("o_totalprice") * 100).cast("long").cast("string"), 12, "0"),
        rpad(col("o_orderpriority"), 15, " "))
      Tables(s, dir, "orders")
        .select(line.as("__line"))
        .select(
          substring(col("__line"), 1, 10).cast("long").as("k"),
          substring(col("__line"), 11, 1).as("status"),
          substring(col("__line"), 12, 12).cast("long").as("cents"),
          trim(substring(col("__line"), 24, 15)).as("priority"))
        .orderBy(col("k"))
    },
    Some("""
      WITH enc AS (SELECT lpad(o_orderkey::VARCHAR, 10, '0') ||
                          o_orderstatus ||
                          lpad(CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR, 12, '0') ||
                          rpad(o_orderpriority, 15, ' ') AS line
                   FROM orders)
      SELECT CAST(substring(line, 1, 10) AS BIGINT) AS k,
             substring(line, 11, 1) AS status,
             CAST(substring(line, 12, 12) AS BIGINT) AS cents,
             trim(substring(line, 24, 15)) AS priority
      FROM enc ORDER BY k
    """.trim))

  /** Month-over-month change report: exact decimal monthly revenue,
    * lag(1) over the month series, delta and % change with one double
    * division each (9 dp). The window runs over ~one row per month —
    * after the aggregate the series is tiny no matter the input scale,
    * so the unpartitioned ORDER BY window is safe here (and only
    * here).
    */
  val q50MomChange = Q(
    "q50_mom_change",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("month"))
      Tables(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("mom_pct",
          round((col("revenue") - col("prev_revenue")) / col("prev_revenue") * 100, 9))
        .orderBy(col("month"))
    },
    Some("""
      WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                        count(*) AS n
                 FROM orders GROUP BY 1)
      SELECT month, revenue, n,
             lag(revenue, 1) OVER (ORDER BY month) AS prev_revenue,
             round((revenue - lag(revenue, 1) OVER (ORDER BY month)) /
                   lag(revenue, 1) OVER (ORDER BY month) * 100, 9) AS mom_pct
      FROM m ORDER BY month
    """.trim))

  /** Data-mixing: rebalance the corpus language mix toward 50 docs per
    * language — systematic 1-in-m per stratum on an md5 id hash
    * (SampleOps.mixtureSample), scan-side with no per-stratum window.
    * The oracle recomputes the same moduli from the same counts and the
    * same hash arithmetic, so the selected set matches doc-for-doc.
    */
  val q51MixtureSample = Q(
    "q51_mixture_sample",
    (s, dir) =>
      SampleOps.mixtureSample(Tables(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 50L, "es" -> 50L, "de" -> 50L, "fr" -> 50L, "zh" -> 50L))
        .orderBy(col("doc_id")),
    Some("""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      t(lang, tgt) AS (VALUES ('en', 50), ('es', 50), ('de', 50), ('fr', 50), ('zh', 50)),
      m AS (SELECT c.lang, greatest(1, c.n // t.tgt) AS m FROM c JOIN t USING (lang))
      SELECT d.doc_id, d.lang FROM documents d JOIN m USING (lang)
      WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % m.m = 0
      ORDER BY d.doc_id
    """.trim))

  def all: Seq[Q] = Seq(q45CustOrderDist, q46EventFunnel, q47PpsSample, t11StatAggs,
    srcJsonlRoundtrip, q48IncrementalRollup, dq3RangeAudit, dq4DistributionDrift,
    t12BitwiseFuncs, q49BfsLayers, t13TemporalArith, u8LatestPerKey, p31FixedWidth,
    q50MomChange, q51MixtureSample, q52FunnelUserStages)
}
