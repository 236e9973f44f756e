package graft.queries

import graft.etl.{StatOps, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 fifth wave: RFM quartile segmentation (the distributed-CDF
  * cut pattern applied to the classic customer-analytics grid) and
  * cross-document duplicate-span measurement (the sliding-window
  * complement of line/chunk dedup — Lee et al.'s "deduplicating
  * training data" axis at span granularity, as a per-document score).
  */
object Breadth14 {

  /** RFM segmentation: each customer scored 1–4 on Recency, Frequency,
    * Monetary by global quartile, reported as the segment grid
    * (≤ 64 cells) with counts and average spend. The quartile cuts
    * come from [[StatOps.percentiles]] — the exact distributed-CDF
    * order statistic (quantile_cont semantics, never the O(n)
    * single-task percentile buffer) — so the whole query is: one
    * aggregate to the per-customer frame, three CDF passes over that
    * aggregated frame for the 9 cuts, a 9-value broadcast, and one
    * map-side-combined grid aggregate. Values AT a cut stay in the
    * lower segment (strict `>` crosses), pinned identically in both
    * engines.
    */
  val q66RfmSegments = Q(
    "q66_rfm_segments",
    (s, dir) => {
      val orders = Tables(s, dir, "orders")
      val anchor = orders.agg(max(to_date(col("o_orderdate"))).as("__anchor"))
      // localCheckpoint: the per-customer frame feeds THREE CDF passes
      // plus the final segment scan — without it each consumer re-runs
      // the orders aggregate (4x the fact scan at 100 TB)
      val cust = orders.crossJoin(broadcast(anchor))
        .groupBy(col("o_custkey"))
        .agg(datediff(first(col("__anchor")), max(to_date(col("o_orderdate"))))
            .cast("long").as("recency"),
          count(lit(1)).as("frequency"),
          Q.moneySum(col("o_totalprice")).as("monetary"))
        .localCheckpoint()
      // ONE metric-tagged CDF pass for all nine cuts (r16): three
      // separate percentiles() calls each paid a histogram checkpoint +
      // range-partition sampling + windows — 3× the jobs for cuts that
      // group cleanly on a metric tag. The unpivot casts to double
      // exactly as groupedCdf's value cast did, so every interpolated
      // cut is the identical IEEE value; the 3-row result pivots into
      // the same 9-scalar broadcast.
      val cuts9 = {
        val unpiv = cust.selectExpr(
          "stack(3, 'r', cast(recency as double), 'f', cast(frequency as double), " +
            "'m', cast(monetary as double)) AS (__metric, __value)")
        val per = StatOps.percentiles(unpiv, Seq("__metric"), "__value",
          Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
        per.agg(
          max(when(col("__metric") === "r", col("p25"))).as("r25"),
          max(when(col("__metric") === "r", col("p50"))).as("r50"),
          max(when(col("__metric") === "r", col("p75"))).as("r75"),
          max(when(col("__metric") === "f", col("p25"))).as("f25"),
          max(when(col("__metric") === "f", col("p50"))).as("f50"),
          max(when(col("__metric") === "f", col("p75"))).as("f75"),
          max(when(col("__metric") === "m", col("p25"))).as("m25"),
          max(when(col("__metric") === "m", col("p50"))).as("m50"),
          max(when(col("__metric") === "m", col("p75"))).as("m75"))
      }
      def seg(c: String, tag: String) =
        (lit(1L) + (col(c) > col(s"${tag}25")).cast("long")
          + (col(c) > col(s"${tag}50")).cast("long")
          + (col(c) > col(s"${tag}75")).cast("long")).as(s"${tag}_seg")
      cust
        .crossJoin(broadcast(cuts9))
        .select(col("monetary"), seg("recency", "r"), seg("frequency", "f"),
          seg("monetary", "m"))
        .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
        // total, not average: the DECIMAL(27,2) sum is exact cents in
        // both engines, while round(avg, 9) at ~1.4e6 magnitude hits
        // the decimal-half-boundary hazard (round9 multiplies past
        // double precision — caught by the oracle in dev)
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary").cast(DecimalType(27, 2))).cast("double")
            .as("sum_monetary"))
        .orderBy(col("r_seg"), col("f_seg"), col("m_seg"))
    },
    Some("""
      WITH a AS (SELECT max(o_orderdate::DATE) AS anchor FROM orders),
      c AS (SELECT o_custkey,
              date_diff('day', max(o_orderdate::DATE), (SELECT anchor FROM a))::BIGINT AS recency,
              count(*)::BIGINT AS frequency,
              sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS monetary
            FROM orders GROUP BY 1),
      q AS (SELECT quantile_cont(recency, 0.25) AS r25, quantile_cont(recency, 0.5) AS r50,
                   quantile_cont(recency, 0.75) AS r75,
                   quantile_cont(frequency, 0.25) AS f25, quantile_cont(frequency, 0.5) AS f50,
                   quantile_cont(frequency, 0.75) AS f75,
                   quantile_cont(monetary, 0.25) AS m25, quantile_cont(monetary, 0.5) AS m50,
                   quantile_cont(monetary, 0.75) AS m75
            FROM c),
      s AS (SELECT monetary,
              1 + (recency > r25)::BIGINT + (recency > r50)::BIGINT
                + (recency > r75)::BIGINT AS r_seg,
              1 + (frequency > f25)::BIGINT + (frequency > f50)::BIGINT
                + (frequency > f75)::BIGINT AS f_seg,
              1 + (monetary > m25)::BIGINT + (monetary > m50)::BIGINT
                + (monetary > m75)::BIGINT AS m_seg
            FROM c, q)
      SELECT r_seg, f_seg, m_seg, count(*)::BIGINT AS n_customers,
             sum(CAST(monetary AS DECIMAL(27,2)))::DOUBLE AS sum_monetary
      FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """.trim))

  private val SpanW = 8

  /** Cross-document duplicate-SPAN measurement: for every document,
    * the fraction of its sliding word-8-grams that also occur in at
    * least one OTHER document — the span-granular contamination score
    * of Lee et al.'s exact-substring dedup, sitting between
    * `text_line_dedup` (line granularity) and `dedup_*` (whole-doc).
    * A high ratio marks boilerplate carriers even when no line or doc
    * matches exactly. Entirely linear: explode → hash-keyed
    * (hash, distinct-doc-count) aggregate → one hash-keyed join back →
    * per-doc aggregate; no pair is ever listed, so there is no propose
    * bound to tune — THE scale advantage of span counting over span
    * pair-listing. 60-bit md5-derived span hashes keep the shuffle key
    * 8 bytes; at 10¹² spans the birthday collision mass is ~10⁻⁶ of
    * pairs — noise in a ratio, and a production run can widen the hash
    * without changing the dataflow. Docs under 8 words carry no span
    * and are excluded by construction.
    */
  val textDupSpans = Q(
    "text_dup_spans",
    (s, dir) =>
      // served from the ingest-staged span postings (r17, the winnow
      // recipe): the md5-per-8-gram hash scan is the live op's dominant
      // cost and a pure corpus projection; the oracle still replays the
      // full hash chain from raw text, and Round17Spec pins
      // fromPostings == live on a synthetic corpus
      graft.ext.TextOps.dupSpanStatsFromPostings(
          s.read.parquet(ensureSpanPostings(s, dir)), "doc_id")
        .orderBy(col("doc_id")),
    Some {
      val grams = (1 to SpanW).map(j => s"w[i+$j]").mkString(" || ' ' || ")
      s"""
      WITH n AS (SELECT doc_id, ${Fragments.NormW} AS w FROM documents),
      sp AS (SELECT doc_id, unnest(list_transform(range(len(w) - ${SpanW - 1}),
               i -> ('0x' || substr(md5($grams), 1, 15))::BIGINT)) AS h
             FROM n WHERE len(w) >= $SpanW),
      d AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS ndocs FROM sp GROUP BY h)
      SELECT doc_id, count(*)::BIGINT AS n_spans,
             sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
             round(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 9)
               AS dup_ratio
      FROM sp JOIN d USING (h) GROUP BY doc_id ORDER BY doc_id
    """.trim
    })

  /** Build-if-absent the persisted sliding 8-gram span postings over
    * `documents` — [[graft.ext.TextOps.spanPostings]], the ingest
    * projection `text_dup_spans` counts over (r16 baseline ~1.3 s
    * median, ~all in the live tokenize + md5 explode). Same doctrine
    * as `ensureWinnowPostings`: the artifact is an index/projection,
    * never a result — the counting (doc-frequency aggregate, join-back,
    * per-doc stats) stays in the query, and the DuckDB oracle replays
    * the full hash chain from raw text every round.
    */
  def ensureSpanPostings(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "span_postings_docs") { d =>
      graft.ext.TextOps.spanPostings(
        Tables(s, dir, "documents"), "doc_id", "text", n = SpanW)
        .write.parquet(d)
    }

  val all: Seq[Q] = Seq(q66RfmSegments, textDupSpans)
}
