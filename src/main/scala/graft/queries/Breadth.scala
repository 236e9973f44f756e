package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.functions._

/** Function-breadth queries: the scalar/set/grouping surface a user of a
  * general-purpose engine expects, each cross-checked against DuckDB.
  * All scan-side (codegen'd built-ins), no extra shuffles beyond the
  * stated group/sort.
  */
object Breadth {

  /** JSON field extraction from a string column (events.props). */
  val p25Json = Q(
    "p25_json_extract",
    (s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_num"))
        .orderBy(col("event_id")),
    Some(Fragments.JsonKOracle))

  /** Scalar string-function parity sweep. */
  val t1Strings = Q(
    "t1_string_funcs",
    (s, dir) =>
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_name")).as("u"),
          lower(col("c_mktsegment")).as("l"),
          substring(col("c_name"), 1, 8).as("sub"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          levenshtein(col("c_mktsegment"), lit("BUILDING")).cast("long").as("lev"),
          reverse(col("c_mktsegment")).as("rev"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("tr"),
          concat_ws("|", col("c_name"), col("c_mktsegment")).as("joined"),
          length(col("c_name")).cast("long").as("len"))
        .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey, upper(c_name) AS u, lower(c_mktsegment) AS l,
             substring(c_name, 1, 8) AS sub,
             lpad(c_custkey::VARCHAR, 10, '0') AS padded,
             levenshtein(c_mktsegment, 'BUILDING')::BIGINT AS lev,
             reverse(c_mktsegment) AS rev,
             translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
             concat_ws('|', c_name, c_mktsegment) AS joined,
             length(c_name)::BIGINT AS len
      FROM customer ORDER BY c_custkey
    """.trim))

  /** Temporal part extraction + truncation parity. */
  val t2DateParts = Q(
    "t2_date_parts",
    (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          hour(col("o_orderdate")).cast("long").as("h"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             extract(year FROM o_orderdate)::BIGINT AS y,
             extract(month FROM o_orderdate)::BIGINT AS m,
             extract(day FROM o_orderdate)::BIGINT AS d,
             extract(hour FROM o_orderdate)::BIGINT AS h,
             extract(quarter FROM o_orderdate)::BIGINT AS q,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
      FROM orders ORDER BY o_orderkey
    """.trim))

  /** INTERSECT (distinct) of the published and incoming key sets. */
  val u3Intersect = Q(
    "u3_intersect",
    (s, dir) => {
      val o = Tables(s, dir, "orders").select(col("o_orderkey"))
      val b = Fragments.refreshedKeys(o)
      o.intersect(b).orderBy(col("o_orderkey"))
    },
    Some(s"SELECT o_orderkey FROM orders INTERSECT (${Fragments.RefreshedKeysSql}) ORDER BY o_orderkey"))

  /** EXCEPT (distinct): published keys that vanished from the refresh. */
  val u4Except = Q(
    "u4_except",
    (s, dir) => {
      val o = Tables(s, dir, "orders").select(col("o_orderkey"))
      val b = Fragments.refreshedKeys(o)
      o.except(b).orderBy(col("o_orderkey"))
    },
    Some(s"SELECT o_orderkey FROM orders EXCEPT (${Fragments.RefreshedKeysSql}) ORDER BY o_orderkey"))

  /** GROUPING SETS via the SQL front-end over a temp view. */
  val q12GroupingSets = Q(
    "q12_grouping_sets",
    (s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
      """)
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """.trim))

  /** Pivot (statuses → columns); missing combinations stay null in both
    * engines (sum-of-CASE oracle).
    */
  val q11Pivot = Q(
    "q11_pivot",
    (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .count()
        .orderBy(col("o_orderpriority")),
    Some("""
      SELECT o_orderpriority,
             sum(CASE WHEN o_orderstatus = 'O' THEN 1 END)::BIGINT AS "O",
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 END)::BIGINT AS "F",
             sum(CASE WHEN o_orderstatus = 'P' THEN 1 END)::BIGINT AS "P"
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """.trim))

  /** Deterministic array aggregation: collect distinct then sort (plain
    * collect_list order is partition-dependent; sorted sets are not).
    * Final projection flattens arrays to csv strings: the driver's
    * pandas-side compare cannot sort array cells (r01 `err`), and the
    * flatten also pins element order into the hashed value.
    */
  val t3ArrayAgg = Q(
    "t3_array_agg",
    (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sort_array(collect_set(col("l_linestatus"))).as("statuses"),
          sort_array(collect_set(col("l_shipdate").cast("date"))).as("ship_dates_sample"))
        .select(col("l_returnflag"),
          array_join(col("statuses"), ",").as("statuses"),
          array_join(transform(slice(col("ship_dates_sample"), 1, 5),
            d => d.cast("string")), ",").as("first_ship_dates"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
             array_to_string(list_transform(list_sort(list(DISTINCT CAST(l_shipdate AS DATE)))[1:5],
                                            d -> strftime(d, '%Y-%m-%d')), ',') AS first_ship_dates
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.trim))

  /** Correlated scalar subquery (decorrelated by Catalyst into a join). */
  val q13Subquery = Q(
    "q13_correlated_subquery",
    (s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v o
        WHERE o_totalprice > (SELECT 2 * avg(o2.o_totalprice)
                              FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey
      """)
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      WHERE o_totalprice > (SELECT 2 * avg(o2.o_totalprice)
                            FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey
    """.trim))

  /** Recursive CTE (Spark 4.1 WITH RECURSIVE) joined against a table. */
  val q14Recursive = Q(
    "q14_recursive_cte",
    (s, dir) => {
      Tables(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql("""
        WITH RECURSIVE r(k) AS (
          SELECT 0 UNION ALL SELECT k + 1 FROM r WHERE k < 24)
        SELECT k, n_name FROM r JOIN nation_v ON n_nationkey = k ORDER BY k
      """)
    },
    Some("""
      WITH RECURSIVE r(k) AS (
        SELECT 0 UNION ALL SELECT k + 1 FROM r WHERE k < 24)
      SELECT k, n_name FROM r JOIN nation ON n_nationkey = k ORDER BY k
    """.trim))

  /** Custom typed Aggregator: bounded per-group top-k (O(k) partial
    * state — no window shuffle of the full data).
    */
  val t4TopkAgg = Q(
    "t4_topk_aggregator",
    (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.TopKAggregator.topKIds(3)(
          col("l_extendedprice"), col("l_orderkey")).as("ids"))
        .select(col("l_returnflag"),
          array_join(transform(col("ids"), i => i.cast("string")), ",")
            .as("top_order_ids"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             array_to_string(list_transform(
               (list(l_orderkey ORDER BY l_extendedprice DESC, l_orderkey ASC))[1:3],
               i -> i::VARCHAR), ',') AS top_order_ids
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.trim))

  /** Array explosion with position (generator/table-function surface). */
  val p26Posexplode = Q(
    "p26_posexplode",
    (s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(split(graft.ext.Dedup.normText(col("text")), " ")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("word"))
        .orderBy(col("doc_id"), col("pos")),
    Some(raw"""
      WITH n AS (SELECT doc_id,
                        string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS w
                 FROM documents WHERE doc_id < 50)
      SELECT doc_id, pos, word FROM (
        SELECT doc_id,
               unnest(list_transform(range(len(w)), i -> {'pos': i, 'word': w[i+1]}),
                      recursive := true)
        FROM n)
      ORDER BY doc_id, pos
    """.trim))

  /** Map-typed column ops: construct, keys/values, scalar extraction.
    * The map itself stays internal (its physical parquet/python shapes
    * differ per engine); outputs are csv-flattened strings and scalars
    * so the driver's pandas compare can sort them.
    */
  val t5Maps = Q(
    "t5_map_funcs",
    (s, dir) => {
      val m = map(lit("type"), col("event_type"), lit("uid"), col("user_id").cast("string"))
      Tables(s, dir, "events")
        .select(col("event_id"), m.as("__m"))
        .select(col("event_id"),
          array_join(map_keys(col("__m")), ",").as("mkeys"),
          array_join(map_values(col("__m")), ",", "<null>").as("mvals"),
          element_at(col("__m"), "uid").as("uid_val"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id,
             array_to_string(map_keys(m), ',') AS mkeys,
             array_to_string(list_transform(map_values(m),
                                            v -> coalesce(v, '<null>')), ',') AS mvals,
             m['uid'][1] AS uid_val
      FROM (SELECT event_id,
                   map(['type', 'uid'], [event_type, user_id::VARCHAR]) AS m
            FROM events)
      ORDER BY event_id
    """.trim))

  def all: Seq[Q] = Seq(p25Json, t1Strings, t2DateParts, u3Intersect, u4Except,
    q12GroupingSets, q11Pivot, t3ArrayAgg, q13Subquery, q14Recursive, t4TopkAgg,
    p26Posexplode, t5Maps)
}
