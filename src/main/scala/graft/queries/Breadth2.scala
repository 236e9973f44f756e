package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-2 breadth slice: grouping-set completion (CUBE), reshaping
  * (unpivot), analytic windows (lead/lag/ntile, value-range frames),
  * scalar sweeps (regex, array, math), EXISTS subqueries, a non-equi
  * band join, and an oracle-checked salted aggregation.
  *
  * Determinism rules follow round 1: decimal-accumulated money sums cast
  * back to double, transcendental results rounded once to 9dp, arrays
  * flattened to csv strings, every query ends in an ORDER BY with a
  * unique tiebreak. No `round(money, 1)`: half-way cases there resolve
  * differently between Spark's BigDecimal(HALF_UP on the decimal string)
  * and DuckDB's double-arithmetic rounding.
  */
object Breadth2 {

  /** CUBE over the two lineitem status dims — completes the grouping
    * family next to q7_rollup / q12_grouping_sets. One shuffle; the
    * grouping expansion is map-side.
    */
  val q15Cube = Q(
    "q15_cube",
    (s, dir) =>
      Tables(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Q.moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """.trim))

  /** Wide→long reshape of the four lineitem measures (melt/unpivot).
    * Narrow scan (6 cols) with the key filter pushed to parquet.
    */
  val p27Unpivot = Q(
    "p27_unpivot",
    (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "value")
        .withColumn("l_linenumber", col("l_linenumber").cast("long"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure")),
    Some("""
      SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, measure, value FROM (
        UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
                 FROM lineitem WHERE l_orderkey < 1000)
        ON l_quantity, l_extendedprice, l_discount, l_tax INTO NAME measure VALUE value)
      ORDER BY l_orderkey, l_linenumber, measure
    """.trim))

  /** Analytic navigation windows: lag/lead/row_number/ntile/first over a
    * per-customer order history (single hash-partitioned sort, unique
    * tiebreak in the window order for deterministic ntile).
    */
  val w3LeadLag = Q(
    "w3_lead_lag",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          row_number().over(w).cast("long").as("rn"),
          ntile(4).over(w).cast("long").as("quartile"),
          first(col("o_orderdate")).over(w).cast("date").as("first_dt"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             lag(o_totalprice) OVER w AS prev_price,
             lead(o_totalprice) OVER w AS next_price,
             (row_number() OVER w)::BIGINT AS rn,
             (ntile(4) OVER w)::BIGINT AS quartile,
             CAST(first_value(o_orderdate) OVER w AS DATE) AS first_dt
      FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_orderkey
    """.trim))

  /** Value-range window frame: per-customer trailing-30-day spend. The
    * frame is keyed on a day number (value-based RANGE, not ROWS), so
    * tie order cannot affect the sum; money accumulates in decimal.
    */
  val w4RangeFrame = Q(
    "w4_range_frame",
    (s, dir) => {
      val dayNo = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(dayNo).rangeBetween(-30, 0)
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("rolling_30d"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30d
      FROM orders ORDER BY o_orderkey
    """.trim))

  /** Regex scalar sweep: extract / extract-all / replace-all / match /
    * split_part. Patterns stay in the Java∩RE2 common subset.
    */
  val t6Regex = Q(
    "t6_regex_funcs",
    (s, dir) =>
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
          when(col("c_mktsegment").rlike("^B"), 1L).otherwise(0L).as("starts_b"),
          array_join(regexp_extract_all(col("c_name"), lit("[0-9]{2}"), lit(0)), ",").as("pairs"),
          split_part(col("c_name"), lit("#"), lit(1)).as("head"))
        .orderBy(col("c_custkey")),
    Some(raw"""
      SELECT c_custkey,
             regexp_extract(c_name, '([0-9]+)', 1) AS digits,
             regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
             (CASE WHEN regexp_matches(c_mktsegment, '^B') THEN 1 ELSE 0 END)::BIGINT AS starts_b,
             array_to_string(regexp_extract_all(c_name, '[0-9]{2}'), ',') AS pairs,
             split_part(c_name, '#', 1) AS head
      FROM customer ORDER BY c_custkey
    """.trim))

  /** Array scalar sweep: construction (sequence), set ops sorted for
    * determinism, fold, membership — flattened to csv for the compare.
    * Spark `sequence(a,b)` is inclusive; the DuckDB twin uses
    * exclusive-stop `range(a,b+1)`.
    */
  val t7Arrays = Q(
    "t7_array_funcs",
    (s, dir) => {
      val k = col("n_nationkey").cast("long")
      val a = sequence(lit(1L), lit(1L) + k % 4)
      val b = sequence(k % 3, k % 3 + lit(2L))
      val asStr = (c: org.apache.spark.sql.Column) =>
        array_join(transform(c, x => x.cast("string")), ",")
      Tables(s, dir, "nation")
        .select(k.as("n_nationkey"),
          asStr(sort_array(array_intersect(a, b))).as("inter"),
          asStr(sort_array(array_union(a, b))).as("uni"),
          asStr(sort_array(array_except(a, b))).as("minus"),
          size(a).cast("long").as("alen"),
          aggregate(a, lit(0L), (acc, x) => acc + x).as("asum"),
          array_max(a).as("amax"),
          array_contains(a, 2L).cast("long").as("has2"))
        .orderBy(col("n_nationkey"))
    },
    Some("""
      SELECT n_nationkey::BIGINT AS n_nationkey,
             coalesce(array_to_string(list_transform(list_sort(list_intersect(a, b)), x -> x::VARCHAR), ','), '') AS inter,
             array_to_string(list_transform(list_sort(list_distinct(list_concat(a, b))), x -> x::VARCHAR), ',') AS uni,
             coalesce(array_to_string(list_transform(list_sort(list_filter(list_distinct(a), x -> NOT list_contains(b, x))), x -> x::VARCHAR), ','), '') AS minus,
             len(a)::BIGINT AS alen,
             list_sum(a)::BIGINT AS asum,
             list_max(a)::BIGINT AS amax,
             list_contains(a, 2)::BIGINT AS has2
      FROM (SELECT n_nationkey,
                   range(1, 2 + n_nationkey % 4) AS a,
                   range(n_nationkey % 3, n_nationkey % 3 + 3) AS b
            FROM nation)
      ORDER BY n_nationkey
    """.trim))

  /** Math scalar sweep. Transcendentals (sqrt/ln/exp/pow) are rounded
    * once to 9dp — last-ulp libm differences between JVM and C vanish,
    * values remain meaningful.
    */
  val t8Math = Q(
    "t8_math_funcs",
    (s, dir) =>
      Fragments.lineitemHead(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          floor(col("l_extendedprice")).cast("long").as("fl"),
          ceil(col("l_extendedprice")).cast("long").as("ce"),
          abs(col("l_discount") - 0.05).as("ab"),
          round(sqrt(col("l_quantity")), 9).as("sq"),
          round(log(col("l_quantity") + 1), 9).as("lg"),
          round(pow(col("l_discount"), 2), 9).as("p2"),
          round(exp(col("l_discount")), 9).as("ex"),
          signum(col("l_discount") - 0.05).cast("long").as("sg"),
          (col("l_orderkey") % 7).as("md"),
          greatest(col("l_tax"), col("l_discount")).as("gr"),
          least(col("l_tax"), col("l_discount")).as("ls"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some(s"""
      SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
             floor(l_extendedprice)::BIGINT AS fl,
             ceil(l_extendedprice)::BIGINT AS ce,
             abs(l_discount - 0.05) AS ab,
             round(sqrt(l_quantity), 9) AS sq,
             round(ln(l_quantity + 1), 9) AS lg,
             round(pow(l_discount, 2), 9) AS p2,
             round(exp(l_discount), 9) AS ex,
             sign(l_discount - 0.05)::BIGINT AS sg,
             (l_orderkey % 7)::BIGINT AS md,
             greatest(l_tax, l_discount) AS gr,
             least(l_tax, l_discount) AS ls
      ${Fragments.LineitemHeadFrom}
    """.trim))

  /** EXISTS / NOT EXISTS subqueries — Catalyst decorrelates into
    * left-semi and left-anti joins (same shape either engine plans).
    */
  val q16Exists = Q(
    "q16_exists_subquery",
    (s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
      Tables(s, dir, "orders").createOrReplaceTempView("orders_v2")
      s.sql("""
        SELECT c_custkey, c_mktsegment FROM customer_v c
        WHERE EXISTS (SELECT 1 FROM orders_v2 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders_v2 o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        ORDER BY c_custkey
      """)
    },
    Some("""
      SELECT c_custkey, c_mktsegment FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      ORDER BY c_custkey
    """.trim))

  /** Non-equi band join: parts classified into size bands via a
    * broadcast range join (BroadcastNestedLoopJoin over a 4-row dim —
    * the 100 TB-safe plan for small interval dimensions).
    */
  val j6BandJoin = Q(
    "j6_range_band_join",
    (s, dir) => {
      import s.implicits._
      val bands = Seq((0, 10, "S"), (10, 25, "M"), (25, 50, "L"), (50, 100, "XL"))
        .toDF("lo", "hi", "label")
      val part = Tables(s, dir, "part")
      part.join(broadcast(bands),
          part("p_size") >= bands("lo") && part("p_size") < bands("hi"))
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"), col("label"))
        .orderBy(col("p_partkey"))
    },
    Some("""
      SELECT p_partkey, p_size::BIGINT AS p_size, label
      FROM part JOIN (VALUES (0, 10, 'S'), (10, 25, 'M'), (25, 50, 'L'), (50, 100, 'XL'))
                     b(lo, hi, label)
             ON p_size >= lo AND p_size < hi
      ORDER BY p_partkey
    """.trim))

  /** Skew-safe salted aggregation, oracle-checked equal to the direct
    * group-by (sum/count are decomposable; accumulation in decimal makes
    * the two-stage sum bit-equal to the one-stage oracle).
    */
  val q18Salted = Q(
    "q18_salted_agg",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .withColumn("qty_dec", col("l_quantity").cast(DecimalType(18, 2)))
      graft.etl.SkewOps.saltedSumCount(li, Seq("l_returnflag"), "qty_dec", "l_orderkey")
        .select(col("l_returnflag"),
          col("sum_qty_dec").cast("double").as("sum_qty"), col("n"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.trim))

  /** LATERAL correlated subquery with per-row ORDER BY + LIMIT: top-2
    * orders per customer. Catalyst plans the lateral as a ranked window
    * under the hood — the declared shape stays per-row.
    */
  val q19Lateral = Q(
    "q19_lateral_topk",
    (s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("customer_l")
      Tables(s, dir, "orders").createOrReplaceTempView("orders_l")
      s.sql("""
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_l c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_l o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey
      """)
    },
    Some("""
      SELECT c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      ORDER BY c_custkey, t.o_totalprice DESC, t.o_orderkey
    """.trim))

  /** Time-series gap fill: per-user minute grid (sequence + explode)
    * over the observed span, minute sums joined on, gaps forward-filled
    * with last-non-null over an ordered window. The grid generation is
    * scan-side; one shuffle for the minute aggregation, one window sort.
    */
  val q20Resample = Q(
    "q20_resample_ffill",
    (s, dir) => {
      val (grid, agg) = Fragments.minuteGrid(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, -1)
      grid.join(agg, Seq("user_id", "m"), "left")
        .select(col("user_id"), col("m"),
          coalesce(col("v"), last(col("v"), ignoreNulls = true).over(w)).as("v_filled"))
        .orderBy(col("user_id"), col("m"))
    },
    Some(s"""
      WITH ${Fragments.MinuteGridCtes}
      SELECT g.user_id, g.m,
             coalesce(a.v, last_value(a.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS v_filled
      FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.m = a.m
      ORDER BY g.user_id, g.m
    """.trim))

  /** Data-profiling histogram: fixed-width bins with under/overflow
    * buckets via explicit floor arithmetic (identical in both engines —
    * no reliance on engine-specific width_bucket edge semantics).
    */
  val q21Histogram = Q(
    "q21_value_histogram",
    (s, dir) =>
      Tables(s, dir, "events")
        .select(when(col("value") <= 0, 0L)
          .when(col("value") >= 100, 11L)
          .otherwise(lit(1L) + floor(col("value") / 10)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")),
    Some("""
      SELECT (CASE WHEN value <= 0 THEN 0 WHEN value >= 100 THEN 11
              ELSE 1 + floor(value / 10) END)::BIGINT AS bucket, count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1
    """.trim))

  /** Deterministic systematic sampling: keep rows whose portable
    * md5-derived key hash falls in 1/20 of hash space. Unlike
    * rand()-based sampling this is reproducible across engines, runs,
    * and partitionings — the only sampling that can be oracle-checked,
    * and the scale-safe way to cut a stable dev slice of 100 TB.
    */
  val q22Sample = Q(
    "q22_systematic_sample",
    (s, dir) =>
      Tables(s, dir, "orders")
        .filter(graft.ext.Dedup.hash32(col("o_orderkey").cast("string")) % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey, o_custkey, o_orderpriority
      FROM orders
      WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 20 = 0
      ORDER BY o_orderkey
    """.trim))

  /** One-pass column profiler: null count, distinct count, min/max per
    * column in a single scan (multi-distinct plans one Expand, not one
    * scan per column), then stack() to long form. Min/max stringified
    * only for string/long/typed-date columns — double reprs diverge
    * between engines.
    */
  val q23Profile = Q(
    "q23_column_profile",
    (s, dir) => {
      val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
      val o = Tables(s, dir, "orders")
      val aggs = cols.flatMap(c => Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max")))
      val one = o.agg(aggs.head, aggs.tail: _*)
      one.select(expr(s"stack(${cols.size}, " +
          cols.map(c => s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max")
            .mkString(", ") +
          ") AS (col_name, n_nulls, n_distinct, min_s, max_s)"))
        .orderBy(col("col_name"))
    },
    Some("""
      SELECT 'o_orderstatus' AS col_name, count(*) - count(o_orderstatus) AS n_nulls,
             count(DISTINCT o_orderstatus) AS n_distinct,
             min(o_orderstatus)::VARCHAR AS min_s, max(o_orderstatus)::VARCHAR AS max_s
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
             count(DISTINCT o_orderpriority),
             min(o_orderpriority)::VARCHAR, max(o_orderpriority)::VARCHAR
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*) - count(o_custkey), count(DISTINCT o_custkey),
             min(o_custkey)::VARCHAR, max(o_custkey)::VARCHAR
      FROM orders
      ORDER BY col_name
    """.trim))

  /** Ranking family over a tied sort key (o_orderstatus has 3 values →
    * real ties): rank/dense_rank stay deterministic under ties because
    * they depend on the sort VALUE; percent_rank/cume_dist are exact
    * integer ratios, bit-equal across engines.
    *
    * NOT a window partitioned by the 5-value priority over the raw
    * table (that sorts the whole fact table into 5 reducer tasks).
    * Every one of the four rank functions here depends ONLY on the
    * (priority, status) pair counts — a ≤15-cell domain — so they
    * compute on the aggregated count frame (rank = 1 + preceding
    * count, dense_rank = position among distinct statuses,
    * percent_rank/cume_dist = the standard integer ratios) and
    * broadcast-join back: one map-side-partial aggregate plus a
    * scan-side join, no fact-table sort at any scale.
    */
  val w5RankFamily = Q(
    "w5_rank_family",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      val wOrd = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderstatus"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("o_orderpriority"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranks = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__n", sum(col("__c")).over(wAll))
        .withColumn("__cum", sum(col("__c")).over(wCum))
        .withColumn("rnk", col("__cum") - col("__c") + 1)
        .withColumn("drnk", row_number().over(wOrd).cast("long"))
        .withColumn("prnk", when(col("__n") > 1,
          (col("rnk") - 1).cast("double") / (col("__n") - 1).cast("double"))
          .otherwise(0.0))
        .withColumn("cd", col("__cum").cast("double") / col("__n").cast("double"))
        .select(col("o_orderpriority"), col("o_orderstatus"),
          col("rnk"), col("drnk"), col("prnk"), col("cd"))
      o.join(broadcast(ranks), Seq("o_orderpriority", "o_orderstatus"))
        .select(col("o_orderkey"), col("rnk"), col("drnk"), col("prnk"), col("cd"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             (rank() OVER w)::BIGINT AS rnk,
             (dense_rank() OVER w)::BIGINT AS drnk,
             percent_rank() OVER w AS prnk,
             cume_dist() OVER w AS cd
      FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderstatus)
      ORDER BY o_orderkey
    """.trim))

  /** Conditional scalar family: nullif / coalesce / if / CASE chains. */
  val t9Conditional = Q(
    "t9_conditional_funcs",
    (s, dir) =>
      Fragments.lineitemHead(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          coalesce(nullif(col("l_returnflag"), lit("N")), col("l_linestatus")).as("flag_or_status"),
          when(col("l_quantity") > 25, "big").otherwise("small").as("size_class"),
          when(col("l_discount") === 0, lit(null).cast("string"))
            .when(col("l_discount") < 0.05, "low")
            .otherwise("high").as("discount_band"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some(s"""
      SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
             coalesce(nullif(l_returnflag, 'N'), l_linestatus) AS flag_or_status,
             CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS size_class,
             CASE WHEN l_discount = 0 THEN NULL
                  WHEN l_discount < 0.05 THEN 'low'
                  ELSE 'high' END AS discount_band
      ${Fragments.LineitemHeadFrom}
    """.trim))

  /** Cross join of the two small dims (the only join shape not yet in
    * the inventory; both sides tiny → broadcast nested loop).
    */
  val j7Cross = Q(
    "j7_cross_join",
    (s, dir) =>
      Tables(s, dir, "region").crossJoin(Tables(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name")),
    Some("""
      SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name
    """.trim))

  /** Null-safe equality (`<=>` ↔ IS NOT DISTINCT FROM): compares the
    * possibly-null discount band against a possibly-null reference —
    * nulls compare equal to each other, never silently drop.
    */
  val t10NullSafeEq = Q(
    "t10_null_safe_eq",
    (s, dir) =>
      Fragments.lineitemHead(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          nullif(col("l_returnflag"), lit("N")).as("flag_n"))
        .withColumn("same_as_null", (col("flag_n") <=> lit(null)).cast("long"))
        .withColumn("same_as_a", (col("flag_n") <=> lit("A")).cast("long"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some(s"""
      SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
             nullif(l_returnflag, 'N') AS flag_n,
             (nullif(l_returnflag, 'N') IS NOT DISTINCT FROM NULL)::BIGINT AS same_as_null,
             (nullif(l_returnflag, 'N') IS NOT DISTINCT FROM 'A')::BIGINT AS same_as_a
      ${Fragments.LineitemHeadFrom}
    """.trim))

  /** Deterministic pagination: ORDER BY with LIMIT + OFFSET (page 3 of
    * 50). A global sort feeding a skip — fine for dashboards; a 100 TB
    * export would keyset-paginate on the sort key instead (WHERE key >
    * last_seen ORDER BY key LIMIT n), which this query's unique sort key
    * enables.
    */
  val q24LimitOffset = Q(
    "q24_limit_offset",
    (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(100).limit(50)
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 50 OFFSET 100)
      ORDER BY o_orderkey
    """.trim))

  /** Keyset pagination — the scale-safe page fetch q24's comment
    * promises: resume from the last-seen unique key, no OFFSET skip-scan.
    * At 100 TB the predicate prunes row groups via the parquet min/max
    * index instead of sorting everything before the page.
    */
  val q25Keyset = Q(
    "q25_keyset_page",
    (s, dir) =>
      Tables(s, dir, "orders")
        .filter(col("o_orderkey") > 1000)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .limit(50),
    Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey > 1000 ORDER BY o_orderkey LIMIT 50
    """.trim))

  /** Struct construction + JSON serialization: both engines emit compact
    * `{"k":v}` with declared key order. Long field coalesced — Spark's
    * to_json drops null fields while DuckDB emits "k":null, so nulls
    * must not reach the serializer.
    */
  val p29StructJson = Q(
    "p29_struct_json",
    (s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          to_json(struct(col("event_type").as("etype"),
            coalesce(col("user_id"), lit(-1L)).as("uid"))).as("js"))
        .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             to_json(struct_pack(etype := event_type,
                                 uid := coalesce(user_id, -1)))::VARCHAR AS js
      FROM events ORDER BY event_id
    """.trim))

  /** Map-entry explode: one (key, value) row per map entry — the
    * generator shape over map columns (complement of t5's scalar ops).
    */
  val p28ExplodeMap = Q(
    "p28_explode_map",
    (s, dir) =>
      Tables(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(col("event_id"),
          map(lit("type"), col("event_type"),
            lit("uid"), col("user_id").cast("string")).as("__m"))
        .select(col("event_id"), explode(col("__m")).as(Seq("k", "v")))
        .orderBy(col("event_id"), col("k")),
    Some("""
      SELECT event_id, unnest(map_keys(m)) AS k, unnest(map_values(m)) AS v
      FROM (SELECT event_id, map(['type','uid'], [event_type, user_id::VARCHAR]) AS m
            FROM events WHERE event_id < 2000)
      ORDER BY event_id, k
    """.trim))

  /** Spark 4 VARIANT ingestion: parse_json into the open variant type,
    * then typed path extraction — the schema-on-read path for
    * semi-structured columns (vs p25's string-function extraction). The
    * variant stays internal; extracted scalars are compared.
    */
  val p30Variant = Q(
    "p30_variant_extract",
    (s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("events_var")
      s.sql("""
        SELECT event_id,
               variant_get(parse_json(props), '$.k', 'string') AS k_str,
               variant_get(parse_json(props), '$.k', 'long') AS k_num
        FROM events_var ORDER BY event_id
      """)
    },
    Some(Fragments.JsonKOracle))

  /** GROUP BY ... HAVING over an aggregate predicate (post-aggregation
    * filter — Catalyst plans it as Filter over Aggregate, identical to
    * the DataFrame .filter form, declared here through the SQL clause).
    */
  val q26Having = Q(
    "q26_having",
    (s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_h")
      s.sql("""
        SELECT o_custkey, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders_h
        GROUP BY o_custkey
        HAVING count(*) >= 20 AND sum(CAST(o_totalprice AS DECIMAL(18,2))) > 100000
        ORDER BY o_custkey
      """)
    },
    Some("""
      SELECT o_custkey, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders
      GROUP BY o_custkey
      HAVING count(*) >= 20 AND sum(CAST(o_totalprice AS DECIMAL(18,2))) > 100000
      ORDER BY o_custkey
    """.trim))

  /** Data-quality: primary-key uniqueness audit. The input is the
    * published snapshot unioned with a re-ingested slice (the classic
    * double-load incident); output lists the violated keys with their
    * multiplicities — empty on clean data.
    */
  val dq1PkViolations = Q(
    "dq1_pk_violations",
    (s, dir) => {
      val o = Tables(s, dir, "orders").select(col("o_orderkey"))
      o.unionByName(o.filter(col("o_orderkey") % 1000 === 0))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, count(*) AS n_copies
      FROM (SELECT o_orderkey FROM orders
            UNION ALL SELECT o_orderkey FROM orders WHERE o_orderkey % 1000 = 0)
      GROUP BY o_orderkey HAVING count(*) > 1
      ORDER BY o_orderkey
    """.trim))

  /** Data-quality: referential-integrity audit — fact keys without a
    * parent dim row (orphans synthesized by hiding a slice of orders),
    * found with the scale-shape anti join and aggregated per orphan key.
    */
  val dq2Orphans = Q(
    "dq2_referential_orphans",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val visible = Tables(s, dir, "orders").filter(col("o_orderkey") % 97 =!= 0)
      li.join(visible, li("l_orderkey") === visible("o_orderkey"), "left_anti")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_orphan_rows"))
        .orderBy(col("l_orderkey"))
    },
    Some("""
      SELECT l_orderkey, count(*) AS n_orphan_rows
      FROM lineitem
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_orderkey = l_orderkey AND o_orderkey % 97 <> 0)
      GROUP BY l_orderkey ORDER BY l_orderkey
    """.trim))

  def all: Seq[Q] = Seq(q15Cube, p27Unpivot, w3LeadLag, w4RangeFrame, t6Regex,
    t7Arrays, t8Math, q16Exists, j6BandJoin, q18Salted, q19Lateral, q20Resample,
    q21Histogram, q22Sample, q23Profile, w5RankFamily, t9Conditional, j7Cross,
    t10NullSafeEq, q24LimitOffset, q25Keyset, p29StructJson, p28ExplodeMap,
    p30Variant, q26Having, dq1PkViolations, dq2Orphans)
}
