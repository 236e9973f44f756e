package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 tenth wave: linear-interpolation gap fill (the resample
  * mode q20's forward-fill doesn't cover) and the nearest-either-side
  * as-of join (j5/j8 give last-prior and next-after; sensor and
  * attribution pipelines routinely want whichever is closer).
  */
object Breadth19 {

  /** Minute resample with LINEAR INTERPOLATION: q20's grid and
    * aggregation, but a gap minute takes the value interpolated
    * between the last and next observed minutes (leading/trailing
    * gaps fall back to the single available side — pandas
    * `interpolate(limit_direction='both')` semantics). One window
    * pass carries all four ignore-null extremes (prev/next value and
    * minute); the interpolation weight is an exact integer minute
    * ratio, and the arithmetic `prev + (next − prev)·w` is written in
    * the same order in both engines, rounded once.
    */
  val q67ResampleInterp = Q(
    "q67_resample_interp",
    (s, dir) => {
      val (grid, agg) = Fragments.minuteGrid(s, dir)
      val wPrev = Window.partitionBy(col("user_id")).orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // "next non-null" via the REVERSED running frame, never
      // `(1, unboundedFollowing)`: Spark executes unbounded-FOLLOWING
      // frames by recomputing the aggregate per row — O(n²) per
      // partition, measured >9 min on this query's 43k-minute grids —
      // while an unbounded-PRECEDING frame streams in O(n). last()
      // over the descending order is exactly first-after in ascending
      // terms.
      val wNextRev = Window.partitionBy(col("user_id")).orderBy(col("m").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val j = grid.join(agg, Seq("user_id", "m"), "left")
        .withColumn("__pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("__pm",
          last(when(col("v").isNotNull, col("m")), ignoreNulls = true).over(wPrev))
        .withColumn("__nv", last(col("v"), ignoreNulls = true).over(wNextRev))
        .withColumn("__nm",
          last(when(col("v").isNotNull, col("m")), ignoreNulls = true).over(wNextRev))
      val wFrac = (unix_timestamp(col("m")) - unix_timestamp(col("__pm"))).cast("double") /
        (unix_timestamp(col("__nm")) - unix_timestamp(col("__pm"))).cast("double")
      // v_interp stays UNROUNDED (the withModelQuality lesson): every
      // input is an exact decimal-derived double or an integer minute
      // ratio, and +,−,×,/ are correctly-rounded IEEE ops in a fixed
      // written order — while round(x, 9) re-introduces the decimal-
      // half-boundary hazard (this query's first draft mismatched at
      // ...0625 exactly as the model-quality logit once did)
      j.withColumn("v_interp",
          when(col("v").isNotNull, col("v"))
            .when(col("__pv").isNotNull && col("__nv").isNotNull,
              col("__pv") + (col("__nv") - col("__pv")) * wFrac)
            .otherwise(coalesce(col("__pv"), col("__nv"))))
        .select(col("user_id"), col("m"), col("v_interp"))
        .orderBy(col("user_id"), col("m"))
    },
    Some(s"""
      WITH ${Fragments.MinuteGridCtes},
      w AS (SELECT g.user_id, g.m, a.v,
              last_value(a.v IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.m
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
              last_value(CASE WHEN a.v IS NOT NULL THEN g.m END IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.m
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm,
              first_value(a.v IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.m
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
              first_value(CASE WHEN a.v IS NOT NULL THEN g.m END IGNORE NULLS) OVER (
                PARTITION BY g.user_id ORDER BY g.m
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nm
            FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.m = a.m)
      SELECT user_id, m,
             CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                    pv + (nv - pv) *
                      ((floor(epoch(m))::DOUBLE - floor(epoch(pm))::DOUBLE) /
                       (floor(epoch(nm))::DOUBLE - floor(epoch(pm))::DOUBLE))
                  ELSE coalesce(pv, nv) END AS v_interp
      FROM w ORDER BY user_id, m
    """.trim))

  /** Nearest-either-side as-of join: every purchase matched to its
    * user's CLOSEST click in time — j5 (last prior) and j8 (next
    * after) answer the directional questions; sensor alignment and
    * attribution want whichever is nearer. One window pass carries
    * both candidates; ties (equidistant) resolve to the PRIOR click
    * in both engines (the attribution-style causality default,
    * encoded as `<=` on the gap comparison). Gap arithmetic is whole
    * integer MICROSECONDS (`unix_micros` / `epoch_us`) — second-level
    * epochs diverge across engines (Spark truncates, DuckDB's epoch()
    * keeps the fraction; the first draft was off by one second
    * exactly there), micros are the exact stored precision.
    */
  val j15NearestEvent = Q(
    "j15_nearest_event",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // reversed running frame for "first after" — the same O(n²)
      // unbounded-FOLLOWING avoidance as q67_resample_interp
      val wNextRev = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val click = when(col("event_type") === "click", col("ts"))
      val withCands = ev
        .withColumn("__p", last(click, ignoreNulls = true).over(wPrev))
        .withColumn("__n", last(click, ignoreNulls = true).over(wNextRev))
        .filter(col("event_type") === "purchase")
      val gp = unix_micros(col("ts").cast("timestamp")) - unix_micros(col("__p").cast("timestamp"))
      val gn = unix_micros(col("__n").cast("timestamp")) - unix_micros(col("ts").cast("timestamp"))
      withCands
        .withColumn("nearest_click_ts",
          when(col("__p").isNotNull && (col("__n").isNull || gp <= gn), col("__p"))
            .otherwise(col("__n")))
        .withColumn("gap_us",
          when(col("nearest_click_ts").isNotNull,
            abs(unix_micros(col("ts").cast("timestamp")) - unix_micros(col("nearest_click_ts").cast("timestamp")))))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("nearest_click_ts"), col("gap_us"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH w AS (SELECT event_id, user_id, ts, event_type,
              last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p,
              first_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n
            FROM events),
      m AS (SELECT event_id, user_id, ts,
              CASE WHEN p IS NOT NULL AND (n IS NULL OR
                     epoch_us(ts) - epoch_us(p) <= epoch_us(n) - epoch_us(ts)) THEN p
                   ELSE n END AS nearest_click_ts
            FROM w WHERE event_type = 'purchase')
      SELECT event_id, user_id, ts, nearest_click_ts,
             CASE WHEN nearest_click_ts IS NOT NULL
               THEN abs(epoch_us(ts) - epoch_us(nearest_click_ts))::BIGINT END AS gap_us
      FROM m ORDER BY event_id
    """.trim))

  val all: Seq[Q] = Seq(q67ResampleInterp, j15NearestEvent)
}
