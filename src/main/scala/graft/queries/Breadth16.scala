package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.functions._

/** Round-11 seventh wave: HITS hubs/authorities (the asymmetric
  * centrality PageRank conflates) and the rule-driven cross-field
  * constraint audit (dq1–dq10 watch columns; business rules span
  * several).
  */
object Breadth16 {

  private def hitsSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS (SELECT dst, CAST(sum(CAST(round(hub, 12) AS DECIMAL(38,12))) AS DOUBLE) AS a
             FROM edges JOIN h${i - 1} ON src = node GROUP BY dst),
      sa$i AS (SELECT CAST(sum(CAST(a AS DECIMAL(38,12))) AS DOUBLE) AS s FROM ar$i),
      a$i AS (SELECT node, round(coalesce(a, 0.0::DOUBLE) / s, 12) AS auth
             FROM nodes CROSS JOIN sa$i LEFT JOIN ar$i ON node = dst),
      hr$i AS (SELECT src, CAST(sum(CAST(round(auth, 12) AS DECIMAL(38,12))) AS DOUBLE) AS h
             FROM edges JOIN a$i ON dst = node GROUP BY src),
      sh$i AS (SELECT CAST(sum(CAST(h AS DECIMAL(38,12))) AS DOUBLE) AS s2 FROM hr$i),
      h$i AS (SELECT node, round(coalesce(h, 0.0::DOUBLE) / s2, 12) AS hub
             FROM nodes CROSS JOIN sh$i LEFT JOIN hr$i ON node = src)"""
    }.mkString(",\n      ")
    s"""
      WITH ${Fragments.TradeEdgesCte},
      ${Fragments.NodesCte},
      h0 AS (SELECT node, 1.0::DOUBLE AS hub FROM nodes),
      $rounds
      SELECT node, hub, auth FROM h$iters JOIN a$iters USING (node)
      ORDER BY node
    """.trim
  }

  /** HITS over the customer-nation → supplier-nation trade graph (the
    * q54_pagerank edge list): hub = who buys from strong exporters,
    * authority = who supplies strong importers — the two directed
    * roles one PageRank score cannot separate. [[graft.ext.GraphOps
    * .hits]] does the alternating L1-normalized propagation with the
    * 12-dp decimal-sum discipline; the oracle unrolls the same three
    * iterations CTE-for-CTE (the pageRankSql recipe).
    */
  val graphHits = Q(
    "graph_hits",
    (s, dir) => {
      graft.ext.GraphOps.hits(Fragments.tradeEdges(s, dir), iters = 3).orderBy(col("node"))
    },
    Some(hitsSql(3)))

  /** ONE shared predicate list drives BOTH engines (the columnDrift /
    * dictionary discipline): each string is simultaneously a Spark SQL
    * expression (`expr`) and a DuckDB predicate, so adding a rule is a
    * one-line change that stays hash-green by construction. The
    * qty-band rule is a deliberately tight business threshold the
    * synthetic data violates — an audit whose every rate is 0.0 tests
    * nothing.
    */
  private val dq11Rules: Seq[(String, String)] = Seq(
    ("li_discount_unit", "l_discount >= 0 AND l_discount <= 1"),
    ("li_price_positive", "l_extendedprice > 0"),
    ("li_qty_band", "l_quantity >= 1 AND l_quantity <= 30"),
    ("li_ship_after_order", "l_shipdate >= o_orderdate"),
    ("ord_status_domain", "o_orderstatus IN ('O', 'F', 'P')"))

  /** Cross-field constraint audit over the order ⋈ line-item frame —
    * [[graft.ext.EvalOps.ruleAudit]]: every registered business rule
    * (value bands, domain membership, cross-table date ordering)
    * checked in ONE conditional-sum pass over the joined fact frame;
    * NULL-valued predicates count as violations (unprovable ≠
    * satisfied). The join is the only shuffle; rules are free.
    */
  val dq11RuleViolations = Q(
    "dq11_rule_violations",
    (s, dir) => {
      val j = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderstatus"), col("o_orderdate"), col("l_discount"),
          col("l_extendedprice"), col("l_quantity"), col("l_shipdate"))
      graft.ext.EvalOps.ruleAudit(j, dq11Rules.map { case (n, p) => (n, expr(p)) })
        .orderBy(col("rule"))
    },
    Some {
      val sums = dq11Rules.zipWithIndex.map { case ((_, p), i) =>
        s"sum(CASE WHEN ($p) THEN 0 ELSE 1 END)::BIGINT AS v_$i" }.mkString(",\n               ")
      val rows = dq11Rules.zipWithIndex.map { case ((n, _), i) =>
        s"""SELECT '$n' AS rule, n AS n_checked, v_$i AS n_violations,
               round(v_$i::DOUBLE / n::DOUBLE, 9) AS violation_rate FROM a""" }
        .mkString("\n        UNION ALL\n        ")
      s"""
      WITH j AS (SELECT o_orderstatus, o_orderdate, l_discount, l_extendedprice,
                        l_quantity, l_shipdate
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      a AS (SELECT count(*)::BIGINT AS n,
               $sums
            FROM j)
      SELECT * FROM (
        $rows)
      ORDER BY rule
    """.trim
    })

  val all: Seq[Q] = Seq(graphHits, dq11RuleViolations)
}
