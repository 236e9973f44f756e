package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-11 sixth wave: collocation mining (windowed co-occurrence
  * lift), Neyman optimal sample allocation, and the file-overlap
  * clustering-depth audit — completing the text-statistics, survey-
  * sampling, and layout tiers respectively.
  */
object Breadth15 {

  private val CoocWindow = 4

  /** Windowed word co-occurrence with lift — collocation mining (the
    * PMI-era statistic) with the lift ratio n_ab·N²/(P·n_a·n_b)
    * instead of log-PMI: counts and one fixed-order double division,
    * no runtime log, engine-exact (the RA/Herfindahl argument).
    *
    * The pair stream is generated SCAN-SIDE from each document's word
    * array (every position pairs with its next ≤4 tokens via nested
    * `transform`), so pair volume is ≤ 4·corpus tokens — LINEAR by
    * construction, with no self-join, no window, and no propose bound
    * to tune; the only shuffles are the (a,b) count and the two
    * word-keyed frequency joins (term-keyed, the tfidf shape).
    * Pairs seen once are dropped (singleton co-occurrence carries no
    * association evidence and would dominate the output).
    */
  val textCooccurLift = Q(
    "text_cooccur_lift",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(graft.ext.TextOps.words(col("text")).as("__w"))
        .localCheckpoint() // feeds the token counts AND the pair stream
      val toks = docs.select(explode(col("__w")).as("w")).filter(col("w") =!= "")
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("__nw"))
      val totals = toks.agg(count(lit(1)).as("__n"))
      // size >= 2 guard: Spark's sequence(0, -1) DESCENDS on a
      // one-word doc instead of returning empty (DuckDB's range does)
      val pairs = docs.filter(size(col("__w")) >= 2).select(explode(expr(
          s"""flatten(transform(sequence(0, size(__w) - 2), i ->
                transform(sequence(i + 1, least(i + $CoocWindow, size(__w) - 1)), j ->
                  struct(least(__w[i], __w[j]) AS a, greatest(__w[i], __w[j]) AS b))))"""))
          .as("__p"))
        .select(col("__p.a").as("word_a"), col("__p.b").as("word_b"))
        .filter(col("word_a") =!= col("word_b") &&
          col("word_a") =!= "" && col("word_b") =!= "")
        .groupBy(col("word_a"), col("word_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      val totalPairs = pairs.agg(sum(col("n_ab")).as("__p"))
      pairs
        .join(vocab.select(col("w").as("word_a"), col("__nw").as("__na")), "word_a")
        .join(vocab.select(col("w").as("word_b"), col("__nw").as("__nb")), "word_b")
        .crossJoin(broadcast(totals))
        .crossJoin(broadcast(totalPairs))
        .withColumn("lift",
          round(col("n_ab").cast("double") * col("__n").cast("double") *
            col("__n").cast("double") /
            (col("__p").cast("double") * col("__na").cast("double") *
              col("__nb").cast("double")), 9))
        .select(col("word_a"), col("word_b"), col("n_ab"), col("lift"))
        .orderBy(col("word_a"), col("word_b"))
    },
    Some(s"""
      WITH n AS (SELECT ${Fragments.NormW} AS w FROM documents),
      toks AS (SELECT unnest(w) AS t FROM n),
      tk AS (SELECT t FROM toks WHERE t <> ''),
      vocab AS (SELECT t AS w, count(*)::BIGINT AS nw FROM tk GROUP BY 1),
      tot AS (SELECT count(*)::BIGINT AS nn FROM tk),
      pr AS (SELECT unnest(flatten(list_transform(range(len(w) - 1), i ->
               list_transform(range(i + 1, least(i + ${CoocWindow + 1}, len(w))), j ->
                 {'a': least(w[i+1], w[j+1]), 'b': greatest(w[i+1], w[j+1])}))),
               recursive := true)
             FROM n),
      pairs AS (SELECT a AS word_a, b AS word_b, count(*)::BIGINT AS n_ab
                FROM pr WHERE a <> b AND a <> '' AND b <> ''
                GROUP BY 1, 2 HAVING count(*) >= 2),
      tp AS (SELECT sum(n_ab)::BIGINT AS p FROM pairs)
      SELECT word_a, word_b, n_ab,
             round(n_ab::DOUBLE * nn::DOUBLE * nn::DOUBLE /
                   (p::DOUBLE * va.nw::DOUBLE * vb.nw::DOUBLE), 9) AS lift
      FROM pairs
      JOIN vocab va ON va.w = word_a
      JOIN vocab vb ON vb.w = word_b
      CROSS JOIN tot CROSS JOIN tp
      ORDER BY word_a, word_b
    """.trim))

  private val NeymanBudget = 100L

  /** Neyman optimal allocation: split a fixed sample budget across
    * strata ∝ N_h·σ_h (big and volatile strata earn more samples —
    * the survey-sampling optimum for estimating the global mean),
    * computed from the same mergeable per-stratum sufficient
    * statistics as [[graft.etl.StatOps.welchPairs]] and made integer
    * by largest-remainder rounding, so the allocations sum EXACTLY to
    * the budget. One aggregate pass to the k-row strata frame; the
    * remainder ranking is a window over that aggregated frame. All
    * inputs integer-exact; σ = sqrt(sample variance) and the ideal
    * shares are fixed-order IEEE doubles — engine-exact.
    */
  val sampleNeymanAlloc = Q(
    "sample_neyman_alloc",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val g = Tables(s, dir, "documents")
        .select(col("lang"), col("n_chars").as("__x"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_h"), sum(col("__x")).as("__s"),
          sum(col("__x").cast(DecimalType(38, 0)) * col("__x")).as("__sq"))
      val sg = sqrt((col("__sq").cast("double") -
        (col("__s").cast("double") * col("__s").cast("double")) /
          col("n_h").cast("double")) / (col("n_h").cast("double") - lit(1.0)))
      val weighted = g.withColumn("__wt", col("n_h").cast("double") * sg)
      val totalWt = weighted.agg(sum(col("__wt")).as("__tw"))
      val ideal = weighted.crossJoin(broadcast(totalWt))
        .withColumn("ideal", lit(NeymanBudget.toDouble) * col("__wt") / col("__tw"))
        .withColumn("__fl", floor(col("ideal")).cast("long"))
        .withColumn("__fr", col("ideal") - floor(col("ideal")))
      val spent = ideal.agg(sum(col("__fl")).as("__spent"))
      val wRem = Window.orderBy(col("__fr").desc, col("lang"))
      ideal.crossJoin(broadcast(spent))
        .withColumn("__rk", row_number().over(wRem))
        .withColumn("alloc",
          col("__fl") + (col("__rk") <= lit(NeymanBudget) - col("__spent")).cast("long"))
        .select(col("lang"), col("n_h"), round(sg, 9).as("sigma"),
          round(col("ideal"), 9).as("ideal"), col("alloc"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH g AS (SELECT lang, count(*)::BIGINT AS n_h,
                        sum(n_chars)::BIGINT AS s,
                        sum(n_chars::HUGEINT * n_chars) AS sq
                 FROM documents GROUP BY 1),
      w AS (SELECT lang, n_h,
              sqrt((sq::DOUBLE - (s::DOUBLE * s::DOUBLE) / n_h::DOUBLE)
                   / (n_h::DOUBLE - 1.0)) AS sigma,
              n_h::DOUBLE * sqrt((sq::DOUBLE - (s::DOUBLE * s::DOUBLE) / n_h::DOUBLE)
                   / (n_h::DOUBLE - 1.0)) AS wt
            FROM g),
      tw AS (SELECT sum(wt) AS t FROM w),
      i AS (SELECT lang, n_h, sigma,
              ${NeymanBudget}.0 * wt / t AS ideal,
              floor(${NeymanBudget}.0 * wt / t)::BIGINT AS fl,
              ${NeymanBudget}.0 * wt / t - floor(${NeymanBudget}.0 * wt / t) AS fr
            FROM w, tw),
      sp AS (SELECT sum(fl)::BIGINT AS spent FROM i),
      r AS (SELECT *, row_number() OVER (ORDER BY fr DESC, lang) AS rk FROM i, sp)
      SELECT lang, n_h, round(sigma, 9) AS sigma, round(ideal, 9) AS ideal,
             fl + (CASE WHEN rk <= $NeymanBudget - spent THEN 1 ELSE 0 END)::BIGINT
               AS alloc
      FROM r ORDER BY lang
    """.trim))

  /** File-overlap clustering-depth audit — the "does my layout
    * actually cluster?" measurement behind OPTIMIZE/Z-ORDER decisions:
    * for each file (simulated here as deterministic bucketings of
    * lineitem), the number of same-layout files whose [min, max]
    * ship-date range covers this file's range start. A time-clustered
    * layout reads depth 1 (disjoint ranges — scans prune to one file
    * per date); a hash layout reads depth = file count (every file
    * spans the whole range — no pruning possible). The per-file
    * min/max manifest is one map-side-combined aggregate; the depth
    * probe is a theta join on that k-row METADATA frame (the
    * compaction-planner economics, never the fact table).
    */
  val layoutOverlapDepth = Q(
    "layout_overlap_depth",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(to_date(col("l_shipdate")).as("__d"), col("l_orderkey"))
      val manifest = li.select(lit("hash").as("layout"),
          (col("l_orderkey") % 8).as("__f"), col("__d"))
        .unionByName(li.select(lit("time").as("layout"),
          date_trunc("month", col("__d")).cast("date").as("__mf"), col("__d"))
          .select(col("layout"), datediff(col("__mf"), lit("1990-01-01").cast("date"))
            .cast("long").as("__f"), col("__d")))
        .groupBy(col("layout"), col("__f"))
        .agg(min(col("__d")).as("__lo"), max(col("__d")).as("__hi"))
        .localCheckpoint() // k-row manifest probed against itself
      val probe = manifest.select(col("layout"), col("__f"), col("__lo"))
        .join(broadcast(manifest.select(col("layout").as("__l2"),
          col("__lo").as("__lo2"), col("__hi").as("__hi2"))),
          col("layout") === col("__l2") &&
            col("__lo2") <= col("__lo") && col("__lo") <= col("__hi2"))
        .groupBy(col("layout"), col("__f"))
        .agg(count(lit(1)).as("__depth"))
      probe.groupBy(col("layout"))
        .agg(count(lit(1)).as("n_files"), max(col("__depth")).as("max_depth"),
          round(sum(col("__depth")).cast("double") / count(lit(1)).cast("double"), 9)
            .as("avg_depth"))
        .orderBy(col("layout"))
    },
    Some("""
      WITH li AS (SELECT l_shipdate::DATE AS d, l_orderkey FROM lineitem),
      m0 AS (SELECT 'hash' AS layout, l_orderkey % 8 AS f, d FROM li
             UNION ALL
             SELECT 'time', date_diff('day', '1990-01-01'::DATE,
                                      date_trunc('month', d)::DATE)::BIGINT, d
             FROM li),
      m AS (SELECT layout, f, min(d) AS lo, max(d) AS hi FROM m0 GROUP BY 1, 2),
      probe AS (SELECT a.layout, a.f, count(*)::BIGINT AS depth
                FROM m a JOIN m b
                  ON a.layout = b.layout AND b.lo <= a.lo AND a.lo <= b.hi
                GROUP BY 1, 2)
      SELECT layout, count(*)::BIGINT AS n_files, max(depth)::BIGINT AS max_depth,
             round(sum(depth)::DOUBLE / count(*)::DOUBLE, 9) AS avg_depth
      FROM probe GROUP BY layout ORDER BY layout
    """.trim))

  val all: Seq[Q] = Seq(textCooccurLift, sampleNeymanAlloc, layoutOverlapDepth)
}
