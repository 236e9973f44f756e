package graft.queries

import graft.etl.{SampleOps, StatOps, Tables}
import graft.ext.TextOps
import org.apache.spark.sql.functions._

/** Round-14 capabilities from the r13 backlog (VERDICT item 8): the
  * Theil–Sen robust trend twin for the monitoring trio, and curriculum
  * ordering — the md5-pinned per-shard loader order that completes the
  * training-mix consumer chain (mixture → epochs → ORDER).
  */
object Breadth23 {

  /** Theil–Sen robust trend over the daily event-value series
    * ([[graft.etl.StatOps.theilSenTrend]]): median of all pairwise
    * slopes, median-residual intercept, per-day fit — the robust rung
    * under q68-q70's mean-based trio (one outlier day drags a 7-day MA
    * by outlier/7; the median-of-slopes estimator ignores it and its
    * residual column flags the outlier instead of smearing it). The
    * medians ride the q55 distributed prefix-sum order statistics; the
    * oracle's `+ 0.0` terms normalize IEEE signed zero (the r13
    * eval_heaps_growth lesson — DuckDB's binary round keeps the sign
    * of a tiny-negative slope, Spark's BigDecimal round cannot).
    */
  val q71TheilSen = Q(
    "q71_theil_sen_trend",
    (s, dir) =>
      StatOps.theilSenTrend(Fragments.dailyTotals(s, dir), "d", "total")
        .orderBy(col("d")),
    Some(s"""
      WITH ${Fragments.DailyTotalsCtes},
      pts AS (SELECT d, date_diff('day', DATE '1970-01-01', d)::BIGINT AS x,
                CAST(round(total, 9) AS DECIMAL(27,9)) AS y FROM daily),
      sl AS (SELECT (round((b.y - a.y)::DOUBLE / (b.x - a.x), 9) + 0.0) AS s
             FROM pts a JOIN pts b ON a.x < b.x),
      np AS (SELECT count(*)::BIGINT AS n_pairs FROM sl),
      m AS (SELECT quantile_cont(s, 0.5) AS ts_slope FROM sl),
      r AS (SELECT (round(y::DOUBLE - ts_slope * x, 9) + 0.0) AS r FROM pts, m),
      ic AS (SELECT quantile_cont(r, 0.5) AS ts_intercept FROM r),
      f AS (SELECT d, y::DOUBLE AS total, n_pairs, ts_slope, ts_intercept,
              (round(ts_slope * x + ts_intercept, 9) + 0.0) AS fitted
            FROM pts, np, m, ic)
      SELECT d, total, n_pairs, ts_slope, ts_intercept, fitted,
             (round(total - fitted, 9) + 0.0) AS residual
      FROM f ORDER BY d
    """.trim))

  /** Curriculum ordering over the quality-scored corpus
    * ([[graft.etl.SampleOps.curriculumOrder]], 8 shards): every doc's
    * md5-deterministic shard and its 1-based easiest-first position
    * within the shard (quality DESC, md5 tie-break) — the loader-order
    * pin a reproducible training run needs, and the missing half of
    * the mix chain (pipeline_training_mix decides what trains; this
    * decides in what order the shards feed it). No low-NDV window at
    * any corpus size: positions come from the distributed prefix-sum
    * rank (range partition + broadcast offsets), so 8 loader streams
    * never means 8 reducer tasks (VERDICT r14 item 1).
    */
  val q72CurriculumOrder = Q(
    "q72_curriculum_order",
    (s, dir) => {
      val scored = TextOps.withQuality(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("quality"))
      SampleOps.curriculumOrder(scored, "doc_id", "quality", shards = 8)
        .select(col("doc_id"), col("shard"), col("position"), col("score"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH n AS (SELECT doc_id, text, ${Fragments.NormW} AS w FROM documents),
      m AS (SELECT doc_id,
              ${Fragments.sqlQualityFeatures(Fragments.sqlHits(TextOps.StopEn))}
            FROM n),
      q AS (SELECT doc_id,
              ${Fragments.QualityScore} AS score
            FROM m),
      sh AS (SELECT doc_id, score,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard
             FROM q)
      SELECT doc_id, shard,
             row_number() OVER (PARTITION BY shard
               ORDER BY score DESC, md5(doc_id::VARCHAR))::BIGINT AS position,
             score
      FROM sh ORDER BY doc_id
    """.trim))

  /** Range-clustered orders layout (16 files range-partitioned by
    * o_orderdate) — the write discipline that makes per-file [min,max]
    * intervals narrow and disjoint, i.e. the layout a manifest can
    * actually skip against.
    */
  def ensureRangeOrders(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "orders_range16") { d =>
      Tables(s, dir, "orders")
        .repartitionByRange(16, col("o_orderdate"), col("o_orderkey"))
        .write.parquet(d)
    }

  /** File-stats manifest over [[ensureRangeOrders]] — built once at
    * ingest ([[graft.etl.LayoutOps.buildFileManifest]]), the metadata
    * table every read plans against.
    */
  def ensureOrdersManifest(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val table = ensureRangeOrders(s, dir)
    graft.etl.LayoutOps.ensureRunDir(s, dir, "orders_range16_manifest") { d =>
      graft.etl.LayoutOps.buildFileManifest(s, table, Seq("o_orderdate"))
        .write.parquet(d)
    }
  }

  /** Manifest-driven file skipping ([[graft.etl.LayoutOps
    * .manifestPrunedRead]]): a quarter's revenue read plans against the
    * per-file [min,max] manifest and opens ONLY the files whose date
    * interval intersects the predicate — the Iceberg/Delta data-skipping
    * contract on plain parquet, and the capability tier above
    * `layout_partition_prune` (directory-level) and `layout_zorder`
    * (which makes these intervals narrow in the first place). At 100 TB
    * the difference is opening ~2% of files instead of listing all of
    * them into the scan. The oracle runs the same quarter over the raw
    * table: manifest pruning must be invisible in the answer (superset
    * guarantee + residual filter), visible only in files touched
    * (pinned in Round14Spec).
    */
  val layoutManifestSkip = Q(
    "layout_manifest_skip",
    (s, dir) => {
      val table = ensureRangeOrders(s, dir)
      val mani = s.read.parquet(ensureOrdersManifest(s, dir))
      Fragments.monthlyRevenue("1995-01-01", "1995-03-31") { (lo, hi) =>
        graft.etl.LayoutOps.manifestPrunedRead(s, table, mani, "o_orderdate", lo, hi)
      }
    },
    Some(Fragments.sqlMonthlyRevenue("1995-01-01", "1995-03-31")))

  val all: Seq[Q] = Seq(q71TheilSen, q72CurriculumOrder, layoutManifestSkip)
}
