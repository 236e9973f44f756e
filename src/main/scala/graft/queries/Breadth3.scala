package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-3 breadth: the classic TPC-H decision-support patterns not yet
  * covered by §2's inventory — correlated scalar aggregates, HAVING-driven
  * semi joins, sole-survivor exists/not-exists composition, and
  * scalar-subquery-over-aggregate. Every aggregate threshold that feeds a
  * comparison is computed exactly (DECIMAL sum, then one double division)
  * so Spark's and DuckDB's float summation order can never flip a
  * borderline row (see the determinism notes in Q.moneySum).
  */
object Breadth3 {

  private def revenue = // l_extendedprice * (1 - l_discount), exact
    sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1.0) - col("l_discount")).cast(DecimalType(18, 2))).cast("double")

  /** TPC-H Q17 pattern — small-quantity lineitems of selected brands,
    * judged against a per-part average. The correlated scalar subquery
    * becomes a per-partkey aggregate joined back (Catalyst's own
    * de-correlation shape, made explicit); at 100 TB the threshold table
    * is |parts-of-brand| rows and broadcasts, and the avg is computed
    * only for those parts (semi-joined first), never for the full part
    * space the oracle's correlated form nominally touches.
    */
  val q27SmallQty = Q(
    "q27_small_qty_loss",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val p = Tables(s, dir, "part")
        .filter(col("p_brand").isin("Brand#23", "Brand#34"))
        .select(col("p_partkey"), col("p_brand"))
      val brandKeys = p.select(col("p_partkey").as("bk"))
      val thresholds = li
        .join(broadcast(brandKeys), li("l_partkey") === col("bk"), "left_semi")
        .groupBy(col("l_partkey").as("t_partkey"))
        .agg(((sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))) * 0.5).as("qty_cutoff"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .join(broadcast(thresholds), li("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_cutoff"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small"), revenue.as("small_rev"))
        .orderBy(col("p_brand"))
    },
    Some("""
      SELECT p_brand, count(*) AS n_small,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS small_rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p_brand IN ('Brand#23', 'Brand#34')
        AND l_quantity < (SELECT 0.5 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      GROUP BY p_brand ORDER BY p_brand
    """.trim))

  /** TPC-H Q18 pattern — large-volume orders: HAVING over a lineitem
    * aggregate gates a customer×orders join, top-100 by price. The
    * HAVING result is small and broadcasts as a semi join; the qty sum
    * rides along via an inner join on the same key (one aggregate, both
    * uses).
    */
  val q28BigOrders = Q(
    "q28_big_orders",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("total_qty"))
        .filter(col("total_qty") > 300.0)
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      o.join(broadcast(big), o("o_orderkey") === big("l_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""
      SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      FROM orders o
      JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300.0) b
        ON o.o_orderkey = b.l_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """.trim))

  /** TPC-H Q21 pattern — the sole supplier shipping on an order's last
    * day, for multi-supplier orders (exists + not-exists composition).
    * Spark side computes it with two aggregates over one lineitem scan
    * shape — per-order max shipdate + distinct-supplier counts — instead
    * of two correlated self-joins; the oracle keeps the EXISTS / NOT
    * EXISTS form, so the compare also pins the two formulations equal.
    */
  val q29SoleLate = Q(
    "q29_sole_late_supplier",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables(s, dir, "lineitem")
      // One shuffle total: the per-order max shipdate and distinct
      // supplier set both come from a window over l_orderkey, and the
      // following groupBy reuses that partitioning (no re-exchange —
      // asserted against the plan in Breadth2Spec's hygiene sweep).
      // Orders are small groups, so collect_set stays tiny per window.
      val w = Window.partitionBy(col("l_orderkey"))
      val sole = li
        .withColumn("mx", max(col("l_shipdate")).over(w))
        .withColumn("supps", size(array_distinct(collect_list(col("l_suppkey")).over(w))))
        .filter(col("supps") > 1 && col("l_shipdate") === col("mx"))
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("nlate"),
          first(col("l_suppkey")).as("the_supp"))
        .filter(col("nlate") === 1)
      val sup = Tables(s, dir, "supplier")
      sole.join(broadcast(sup), col("the_supp") === sup("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(countDistinct(col("l_orderkey")).as("n_waiting"))
        .orderBy(col("n_waiting").desc, col("s_suppkey"))
    },
    Some("""
      WITH lmax AS (SELECT l_orderkey, max(l_shipdate) AS mx FROM lineitem GROUP BY 1)
      SELECT s_suppkey, s_name, count(DISTINCT l.l_orderkey) AS n_waiting
      FROM lineitem l
      JOIN lmax ON l.l_orderkey = lmax.l_orderkey AND l.l_shipdate = lmax.mx
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l.l_orderkey AND l2.l_suppkey <> l.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l.l_orderkey
                          AND l3.l_suppkey <> l.l_suppkey AND l3.l_shipdate = lmax.mx)
      GROUP BY s_suppkey, s_name
      ORDER BY n_waiting DESC, s_suppkey
    """.trim))

  /** TPC-H Q22 pattern — well-funded customers gone quiet: above-average
    * balance (exact-sum threshold, broadcast scalar) with no order in the
    * final period (anti join against a date-pruned orders scan).
    */
  val q30Inactive = Q(
    "q30_inactive_high_balance",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      val thresh = c.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("avg_bal"))
      val recent = o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.join(broadcast(thresh))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal
      FROM customer c
      WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                         FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
      ORDER BY c_custkey
    """.trim))

  /** TPC-H Q15 pattern — the top-revenue supplier(s): an aggregate reused
    * both as join input and under a scalar max. The revenue table is
    * |suppliers| rows, so the max and the filter-join both broadcast.
    */
  val q31TopSupplier = Q(
    "q31_top_supplier",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      // materialized once: the revenue table feeds both the scalar max
      // and the filter-join, and each consumer would otherwise re-run
      // the full lineitem aggregation (fresh exprIds defeat
      // ReuseExchange). |suppliers| rows — trivially small.
      val rev = li.groupBy(col("l_suppkey")).agg(revenue.as("total_rev"))
        .localCheckpoint()
      val mx = rev.agg(max(col("total_rev")).as("mx"))
      val sup = Tables(s, dir, "supplier")
      rev.join(broadcast(mx)).filter(col("total_rev") === col("mx"))
        .join(sup, col("l_suppkey") === sup("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
        .orderBy(col("s_suppkey"))
    },
    Some("""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
        FROM lineitem GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_rev
      FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
      WHERE total_rev = (SELECT max(total_rev) FROM rev)
      ORDER BY s_suppkey
    """.trim))

  /** j9 — the as-of join as a FIRST-CLASS OPERATOR: custom logical plan
    * + planner strategy + physical exec (graft.plans.AsOfJoin), not the
    * j5/j8 window sugar. One hash shuffle per side on the join key, then
    * per-partition time-indexed binary search. The oracle states the
    * semantics independently as a correlated max over strictly-prior
    * signups.
    */
  val j9AsofCustom = Q(
    "j9_asof_custom_operator",
    (s, dir) => {
      val (purchases, signups) = Fragments.purchasesAndSignups(s, dir)
      graft.plans.AsOfJoin.asofJoin(purchases, signups,
          Seq("user_id"), Seq("r_user_id"), "ts", "r_ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("r_ts").as("last_signup_ts"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, ts,
             (SELECT max(e2.ts) FROM events e2
              WHERE e2.user_id = e.user_id AND e2.event_type = 'signup'
                AND e2.ts < e.ts) AS last_signup_ts
      FROM events e WHERE event_type = 'purchase'
      ORDER BY event_id
    """.trim))

  /** j11 — the as-of operator's tolerance bound (pandas merge_asof /
    * kdb wj): a prior signup only counts when it happened within the
    * last 7 days. Same physical operator, the staleness check rides the
    * existing binary search; the oracle adds the symmetric lower bound
    * to the correlated max.
    */
  val j11AsofTolerance = Q(
    "j11_asof_tolerance",
    (s, dir) => {
      val (purchases, signups) = Fragments.purchasesAndSignups(s, dir)
      graft.plans.AsOfJoin.asofJoin(purchases, signups,
          Seq("user_id"), Seq("r_user_id"), "ts", "r_ts",
          tolerance = Some(7L * 86400 * 1000000)) // 7 days in µs
        .select(col("event_id"), col("user_id"), col("ts"),
          col("r_ts").as("recent_signup_ts"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id, ts,
             (SELECT max(e2.ts) FROM events e2
              WHERE e2.user_id = e.user_id AND e2.event_type = 'signup'
                AND e2.ts < e.ts
                AND e2.ts >= e.ts - INTERVAL 7 DAY) AS recent_signup_ts
      FROM events e WHERE event_type = 'purchase'
      ORDER BY event_id
    """.trim))

  /** U6/U7 — the multiset set-ops (ALL variants keep multiplicities:
    * min for intersect, difference for except), completing u3/u4's
    * distinct variants. Planned as aggregate-count joins by Catalyst —
    * one shuffle per side, no row-by-row matching.
    */
  private def multisetSides(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val li = Tables(s, dir, "lineitem")
    (li.filter(col("l_linenumber") <= 3).select(col("l_partkey"), col("l_quantity")),
      li.filter(col("l_linenumber") >= 2).select(col("l_partkey"), col("l_quantity")))
  }

  val u6IntersectAll = Q(
    "u6_intersect_all",
    (s, dir) => {
      val (a, b) = multisetSides(s, dir)
      a.intersectAll(b).orderBy(col("l_partkey"), col("l_quantity"))
    },
    Some("""
      SELECT l_partkey, l_quantity FROM lineitem WHERE l_linenumber <= 3
      INTERSECT ALL
      SELECT l_partkey, l_quantity FROM lineitem WHERE l_linenumber >= 2
      ORDER BY l_partkey, l_quantity
    """.trim))

  val u7ExceptAll = Q(
    "u7_except_all",
    (s, dir) => {
      val (a, b) = multisetSides(s, dir)
      a.exceptAll(b).orderBy(col("l_partkey"), col("l_quantity"))
    },
    Some("""
      SELECT l_partkey, l_quantity FROM lineitem WHERE l_linenumber <= 3
      EXCEPT ALL
      SELECT l_partkey, l_quantity FROM lineitem WHERE l_linenumber >= 2
      ORDER BY l_partkey, l_quantity
    """.trim))

  /** j10 — binned range join: the scale path for interval joins (j6's
    * BroadcastNestedLoopJoin is right only while the interval side
    * broadcasts). Each of 200 overlapping bands is replicated to the
    * fixed-width bins it covers (bin width ≥ max interval length, so
    * ≤ 2 replicas each), probes compute their bin scan-side, and the
    * join becomes a plain EQUI join on the bin — shuffle-partitionable
    * on any cluster size — with the exact containment predicate as a
    * post-filter. O(|probe| + |intervals| + |matches|), never
    * |probe|×|intervals|. The oracle states the semantics as the naive
    * theta join; the plan test asserts no nested-loop operator remains.
    */
  val j10BinnedRange = Q(
    "j10_binned_range_join",
    (s, dir) => {
      val W = 8.0 // ≥ max band length (3 + 4), so each band spans ≤ 2 bins
      val bands = s.range(200).select(col("id").as("band_id"),
          ((col("id") % 50) + (col("id") % 7) * 0.5).as("lo"))
        .withColumn("hi", col("lo") + lit(3) + (col("band_id") % 5))
      val binned = bands.withColumn("bin",
        explode(sequence(floor(col("lo") / W).cast("long"),
          floor(col("hi") / W).cast("long"))))
      val li = Tables(s, dir, "lineitem").select(col("l_quantity"))
        .withColumn("bin", floor(col("l_quantity") / W).cast("long"))
      li.join(binned, "bin")
        .filter(col("lo") <= col("l_quantity") && col("l_quantity") < col("hi"))
        .groupBy(col("band_id")).agg(count(lit(1)).as("n_rows"))
        .orderBy(col("band_id"))
    },
    Some("""
      WITH bands AS (
        SELECT i AS band_id,
               (i % 50) + (i % 7) * 0.5 AS lo,
               (i % 50) + (i % 7) * 0.5 + 3 + (i % 5) AS hi
        FROM range(200) t(i))
      SELECT band_id, count(*) AS n_rows
      FROM lineitem l JOIN bands b
        ON b.lo <= l.l_quantity AND l.l_quantity < b.hi
      GROUP BY band_id ORDER BY band_id
    """.trim))

  /** q33 — stratified systematic sample: per-stratum rates (downsample
    * the dominant language, keep the tails) with the same content-hash
    * selection as q22 — deterministic across runs, engines and
    * repartitionings, which is what makes a stable dev slice of a
    * 100 TB corpus possible. The rate table is a literal CASE so the
    * filter runs scan-side; no join, no shuffle.
    */
  val q33Stratified = Q(
    "q33_stratified_sample",
    (s, dir) => {
      val rate = when(col("lang") === "en", 10)
        .when(col("lang").isin("es", "de"), 50)
        .otherwise(80)
      Tables(s, dir, "documents")
        .filter(graft.ext.Dedup.hash32(col("doc_id").cast("string")) % 100 < rate)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 <
            (CASE WHEN lang = 'en' THEN 10
                  WHEN lang IN ('es', 'de') THEN 50
                  ELSE 80 END)
      ORDER BY doc_id
    """.trim))

  /** q34 — MERGEABLE distinct-count sketches (DataSketches HLL): build
    * one sketch per (day, event_type) partition, then union the binary
    * sketches into a per-type rollup and estimate. This two-level shape
    * is the 100 TB architecture for distinct counts — the daily sketch
    * table is tiny, incremental (new day = new rows, no recompute), and
    * any rollup (weekly, all-time, per-segment) is a sketch union, never
    * a re-scan of raw events. Estimates are engine-specific, so this is
    * a rows-only contract like q10 (exactness pinned separately by the
    * accuracy test in Breadth2Spec).
    */
  val q34HllMergeable = Q(
    "q34_hll_mergeable_sketch",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      val daily = ev
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      daily.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
          count(lit(1)).as("n_days"))
        .orderBy(col("event_type"))
    },
    None)

  /** q35 — the built-in session_window aggregate (one shuffle; Spark
    * merges overlapping [ts, ts+gap) ranges per key). The oracle states
    * the same sessions via the gaps-and-islands formulation — a session
    * breaks when the gap reaches the 30-minute threshold (session
    * ranges are end-exclusive, so an event at exactly prev+gap starts a
    * new session), and every session's end is last_event + gap.
    */
  val q35SessionWindow = Q(
    "q35_session_window",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some("""
      WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (SELECT user_id, ts,
              sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM g)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, session_start
    """.trim))

  /** q36 — sliding-window rates: window(1 hour, slide 30 min) assigns
    * every event to two buckets (a scan-side generator, then one
    * shuffled aggregate). The oracle unnests the same two bucket starts
    * per event; 30-minute buckets align identically from Spark's epoch
    * and DuckDB's time_bucket origin.
    */
  val q36SlidingWindow = Q(
    "q36_sliding_window_rate",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n_events"), col("n_users"))
        .orderBy(col("w_start"), col("event_type"))
    },
    Some("""
      WITH b AS (
        SELECT event_type, user_id,
               unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                       time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS w_start
        FROM events)
      SELECT w_start, event_type, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users
      FROM b GROUP BY w_start, event_type
      ORDER BY w_start, event_type
    """.trim))

  def all: Seq[Q] = Seq(q27SmallQty, q28BigOrders, q29SoleLate, q30Inactive,
    q31TopSupplier, j9AsofCustom, j11AsofTolerance, u6IntersectAll, u7ExceptAll,
    j10BinnedRange, q33Stratified, q34HllMergeable, q35SessionWindow,
    q36SlidingWindow)
}
