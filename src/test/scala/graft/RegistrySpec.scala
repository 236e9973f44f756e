package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract checks on the query registry itself — the driver consumes
  * these maps blindly, so drift fails loudly here instead of silently
  * zeroing a round's correctness.
  */
class RegistrySpec extends AnyFunSuite {

  test("every oracle key has a query; names are unique and well-formed") {
    val qs = SparkEntry.queries
    val os = SparkEntry.oracleSql
    assert(os.keySet.subsetOf(qs.keySet),
      s"oracles without queries: ${os.keySet -- qs.keySet}")
    assert(qs.keySet.forall(_.matches("[a-z][a-z0-9_]+")), "query name style")
    // the intentionally rows-only queries are the three sketch
    // estimators (engine-specific estimates can't hash-match a DuckDB
    // oracle; each is accuracy-pinned in its spec instead)
    assert((qs.keySet -- os.keySet) ==
      Set("q10_approx_distinct", "q34_hll_mergeable_sketch",
        "q57_approx_percentile"))
  }

  test("every oracle ends in a deterministic ORDER BY") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.toUpperCase.contains("ORDER BY"), s"$name oracle lacks ORDER BY")
    }
  }

  /** A shared fragment that loses its `s` interpolator renders a literal
    * `${x}` or `$x`, and one read before its object has finished
    * initialising renders `null`. Outside quoted literals the oracles
    * use no `$`, and SQL's own NULL is upper case, so either token there
    * can only come from Scala.
    */
  test("rendered oracles contain no unrendered interpolation") {
    val quoted = "'(?:[^']|'')*'".r
    val leftover = "\\$|\\bnull\\b".r
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      val found = if (sql.contains("${")) Some("${")
        else leftover.findFirstIn(quoted.replaceAllIn(sql, "''"))
      found.map(t => s"$name renders $t")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  /** DuckDB's `sum(BIGINT)` returns HUGEINT (int128) while Spark's
    * `sum(long)` returns BIGINT — values compare equal but the driver's
    * type-aware hash differs, so the row is hash-red ONLY at the driver
    * (cost two rounds to diagnose: r4/r5 `src_csv_roundtrip` /
    * `src_jsonl_roundtrip`). Every integer sum that reaches an oracle's
    * output must be explicitly typed (`CAST(... AS BIGINT)` / `::BIGINT`).
    * Window sums (`... OVER`) are exempt: they feed intermediate
    * arithmetic, not the hashed output schema.
    */
  test("no bare integer-column sum() in oracle SQL (DuckDB HUGEINT trap)") {
    // integer-typed base columns of the driver's testdata parquet tables
    val intCols = Set(
      "c_custkey", "c_nationkey", "doc_id", "n_chars", "vec_id", "label",
      "event_id", "user_id", "l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "n_nationkey", "n_regionkey", "o_orderkey",
      "o_custkey", "p_partkey", "p_size", "r_regionkey", "s_suppkey",
      "s_nationkey")
    val bareSum =
      raw"(?i)\bsum\(\s*(?:[a-z][a-z0-9_]*\.)?([a-z][a-z0-9_]*)\s*\)(?!\s*(?:::|OVER\b))".r
    def castWrapped(sql: String, start: Int): Boolean =
      sql.substring(0, start).replaceAll("\\s+$", "").toUpperCase.endsWith("CAST(")
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        bareSum.findAllMatchIn(sql).collect {
          case m if intCols(m.group(1).toLowerCase) && !castWrapped(sql, m.start) =>
            s"$name: ${m.matched}"
        }
    }
    assert(offenders.isEmpty,
      s"untyped integer sums (DuckDB returns HUGEINT, Spark BIGINT — driver " +
        s"hash WILL mismatch): ${offenders.mkString("; ")}")
  }
}
