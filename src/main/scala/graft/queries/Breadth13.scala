package graft.queries

import graft.etl.{SampleOps, StatOps, Tables}
import graft.ext.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 fourth wave: Pareto-front data selection, per-source
  * trigram diversity, the dedup cluster-size report, a rank-weighted
  * serving eval (RBO), and the pairwise Welch A/B readout — each a
  * shape the registry lacked (selection under two objectives,
  * template-spam detection, dedup output forensics, rank agreement
  * beyond set recall, and significance testing).
  */
object Breadth13 {

  /** Pareto-front selection over (quality, length): the curation
    * frontier when no single score ranks documents — a short pristine
    * doc and a long decent one are both kept; anything beaten on both
    * axes is not. Quality is the per-language score (the round-11
    * standard), length the word count, so the frontier is exactly the
    * "best document at every length budget" a mix owner samples from.
    * Plan: [[SampleOps.paretoFront2D]] — staircase aggregate + bucket-
    * decomposed running maxima over aggregated frames, never the
    * quadratic dominance join; the oracle IS that quadratic NOT EXISTS
    * over the same per-lang quality, so hash-green proves the
    * decomposition misses nothing.
    */
  val samplePareto = Q(
    "sample_pareto_front",
    (s, dir) => {
      // localCheckpoint: paretoFront2D consumes its input twice (the
      // staircase aggregate and the join-back) — without it the
      // quality kernel runs over the corpus twice
      val scored = TextOps
        .withQualityByLang(Tables(s, dir, "documents"), "text", "lang")
        .select(col("doc_id"), col("lang"), col("n_words"), col("quality"))
        .localCheckpoint()
      SampleOps.paretoFront2D(scored, "quality", "n_words")
        .select(col("doc_id"), col("lang"), col("n_words"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH n AS (SELECT doc_id, lang, text, ${Fragments.NormW} AS w FROM documents),
      m AS (SELECT doc_id, lang, len(w)::BIGINT AS n_words,
              ${Fragments.sqlQualityFeatures(Fragments.sqlHitsByLang())}
            FROM n),
      q AS (SELECT doc_id, lang, n_words,
              ${Fragments.QualityScore} AS quality FROM m)
      SELECT doc_id, lang, n_words, quality FROM q a
      WHERE NOT EXISTS (
        SELECT 1 FROM q b
        WHERE b.quality >= a.quality AND b.n_words >= a.n_words
          AND (b.quality > a.quality OR b.n_words > a.n_words))
      ORDER BY doc_id
    """.trim))

  /** Word-trigram diversity per source — [[TextOps.triDiversity]]:
    * type–token ratio, top-trigram share, and Herfindahl concentration,
    * the template-spam audit a mix owner runs before weighting a
    * source up. Two map-side-combined aggregates; no runtime log
    * (Herfindahl over entropy), so every number is engine-exact.
    */
  val textNgramDiversity = Q(
    "text_ngram_diversity",
    (s, dir) =>
      TextOps.triDiversity(Tables(s, dir, "documents"), "source", "text")
        .select(col("source"), col("n_tri"), col("n_distinct"),
          col("ttr"), col("top_share"), col("herfindahl"))
        .orderBy(col("source")),
    Some(s"""
      WITH n AS (SELECT source, ${Fragments.NormW} AS w FROM documents),
      tri AS (SELECT source,
                unnest(list_transform(range(len(w) - 2),
                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS tri
              FROM n WHERE len(w) >= 3),
      tf AS (SELECT source, tri, count(*)::BIGINT AS n FROM tri GROUP BY 1, 2)
      SELECT source, sum(n)::BIGINT AS n_tri, count(*)::BIGINT AS n_distinct,
             round(count(*)::DOUBLE / sum(n)::DOUBLE, 9) AS ttr,
             round(max(n)::DOUBLE / sum(n)::DOUBLE, 9) AS top_share,
             round(sum(n::HUGEINT * n)::DOUBLE / (sum(n)::DOUBLE * sum(n)::DOUBLE), 9)
               AS herfindahl
      FROM tf GROUP BY source ORDER BY source
    """.trim))

  /** Cluster-SIZE report over the MinHash near-dup clustering — the
    * first thing a corpus owner reads after a dedup run ("is the dup
    * mass a long tail of pairs or one mega-cluster?"): clusters
    * bucketed by next-power-of-two size, with cluster / document /
    * removable-duplicate counts per bucket. Reads the ingest-staged
    * cluster assignment (`ensureAugClusters` — the ingest dedup pass's
    * persisted output, VERDICT r15 item 5, the dedup_canonical_quality
    * pattern); the report itself is one map-side-combined aggregate
    * over that table into a ≤ 21-row frame — integer shift buckets, no
    * libm (the text_length_buckets discipline). The oracle replays the
    * full chain (same generated MinHash CTEs, recursive-CTE
    * components), so a stale or wrong staged assignment hash-reds here.
    */
  val dedupClusterReport = Q(
    "dedup_cluster_report",
    (s, dir) => {
      val sz = s.read.parquet(Breadth20.ensureAugClusters(s, dir))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("__sz"))
      val bucketSizes = (0 to 20).map(i => lit(1L << i))
      sz.withColumn("bucket",
          array_min(filter(array(bucketSizes: _*),
            b => b >= least(col("__sz"), lit(1L << 20)))))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("__sz")).as("n_docs"),
          sum(col("__sz") - 1).as("n_dup"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH RECURSIVE ${Fragments.minhashClusterCtes},
      sz AS (SELECT cluster_id, count(*)::BIGINT AS sz FROM cl GROUP BY 1),
      b AS (SELECT sz, list_min(list_filter(
              [${(0 to 20).map(1L << _).mkString(", ")}],
              x -> x >= least(sz, ${1L << 20})))::BIGINT AS bucket
            FROM sz)
      SELECT bucket, count(*)::BIGINT AS n_clusters, sum(sz)::BIGINT AS n_docs,
             sum(sz - 1)::BIGINT AS n_dup
      FROM b GROUP BY bucket ORDER BY bucket
    """.trim))

  /** Pairwise Welch two-sample t-test across return-flag arms on
    * line-item quantity — [[StatOps.welchPairs]]: the A/B significance
    * readout from per-arm sufficient statistics (one aggregate pass +
    * a 3-row broadcast pair frame). Quantities are integer-valued, so
    * n/Σx/Σx² are exact and the t statistic is the same IEEE double in
    * both engines (the fixed-op-order discipline).
    */
  val evalAbWelch = Q(
    "eval_ab_welch",
    (s, dir) =>
      StatOps.welchPairs(Tables(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .orderBy(col("grp_a"), col("grp_b")),
    Some("""
      WITH g AS (SELECT l_returnflag AS grp, count(*)::BIGINT AS n,
                        sum(l_quantity::BIGINT)::BIGINT AS s,
                        sum(l_quantity::HUGEINT * l_quantity::BIGINT) AS sq
                 FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1)
      SELECT a.grp AS grp_a, b.grp AS grp_b, a.n AS n_a, b.n AS n_b,
             round(a.s::DOUBLE / a.n::DOUBLE, 9) AS mean_a,
             round(b.s::DOUBLE / b.n::DOUBLE, 9) AS mean_b,
             round((a.s::DOUBLE / a.n::DOUBLE - b.s::DOUBLE / b.n::DOUBLE) /
               sqrt(((a.sq::DOUBLE - (a.s::DOUBLE * a.s::DOUBLE) / a.n::DOUBLE) / (a.n::DOUBLE - 1.0)) / a.n::DOUBLE
                  + ((b.sq::DOUBLE - (b.s::DOUBLE * b.s::DOUBLE) / b.n::DOUBLE) / (b.n::DOUBLE - 1.0)) / b.n::DOUBLE), 9)
               AS t_stat,
             round(
               ((((a.sq::DOUBLE - (a.s::DOUBLE * a.s::DOUBLE) / a.n::DOUBLE) / (a.n::DOUBLE - 1.0)) / a.n::DOUBLE
                 + ((b.sq::DOUBLE - (b.s::DOUBLE * b.s::DOUBLE) / b.n::DOUBLE) / (b.n::DOUBLE - 1.0)) / b.n::DOUBLE)
                * (((a.sq::DOUBLE - (a.s::DOUBLE * a.s::DOUBLE) / a.n::DOUBLE) / (a.n::DOUBLE - 1.0)) / a.n::DOUBLE
                 + ((b.sq::DOUBLE - (b.s::DOUBLE * b.s::DOUBLE) / b.n::DOUBLE) / (b.n::DOUBLE - 1.0)) / b.n::DOUBLE))
               / ((((a.sq::DOUBLE - (a.s::DOUBLE * a.s::DOUBLE) / a.n::DOUBLE) / (a.n::DOUBLE - 1.0)) / a.n::DOUBLE)
                   * (((a.sq::DOUBLE - (a.s::DOUBLE * a.s::DOUBLE) / a.n::DOUBLE) / (a.n::DOUBLE - 1.0)) / a.n::DOUBLE)
                   / (a.n::DOUBLE - 1.0)
                + (((b.sq::DOUBLE - (b.s::DOUBLE * b.s::DOUBLE) / b.n::DOUBLE) / (b.n::DOUBLE - 1.0)) / b.n::DOUBLE)
                   * (((b.sq::DOUBLE - (b.s::DOUBLE * b.s::DOUBLE) / b.n::DOUBLE) / (b.n::DOUBLE - 1.0)) / b.n::DOUBLE)
                   / (b.n::DOUBLE - 1.0)), 9) AS df_welch
      FROM g a, g b WHERE a.grp < b.grp
      ORDER BY grp_a, grp_b
    """.trim))

  private val RboP = 0.9
  private val RboK = 10

  /** Truncated-RBO per-rank weights W(m) = Σ_{d=m..k} p^(d−1)/d,
    * rounded to 9 dp and spliced into BOTH engines as literals (the
    * Benford/seed-constant discipline — neither engine's libm pow runs
    * at query time). A matched item whose worse rank is m contributes
    * W(m): summing those equals Σ_d p^(d−1)·|A∩B@d|/d exactly.
    */
  private val rboW: Seq[(Int, String)] = (1 to RboK).map { m =>
    val w = (m to RboK).map(d => math.pow(RboP, d - 1) / d).sum
    m -> BigDecimal(w).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
  }

  /** (1−p)/(1−p^k): scales the weight sum so identical rankings score
    * 1. Generated once; the same shortest-round-trip double literal is
    * spliced into both engines.
    */
  private val rboNorm: Double = (1 - RboP) / (1 - math.pow(RboP, RboK))

  /** Rank-biased overlap (Webber et al. 2010, truncated at k=10,
    * p=0.9) between the exact cosine ranking and the trained IVF
    * serving tier — the rank-WEIGHTED complement of `eval_ann_recall`:
    * set recall says whether true neighbors are found at all, RBO says
    * whether they surface in the right ORDER, weighting the top of the
    * list most (rank-1 disagreements cost ~10× rank-10 ones — the
    * serving property a retrieval consumer actually feels). Both
    * rankings are existing operators; the comparison joins ≤ q·k rows,
    * per-item weights are generated 9 dp literals summed in
    * DECIMAL(27,9) (order-independent, engine-exact), and queries the
    * serve misses entirely score 0 via the left join.
    */
  val evalRankOverlap = Q(
    "eval_rank_overlap",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = Fragments.annQueries(emb)
      val exact = Similarity
        .bruteForceTopK(s, emb, queries, "vec_id", "embedding", k = RboK)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("__re"))
      val approx = Similarity.ivfTopK(s, emb, queries,
          Extensions.servingCentroids(s, dir),
          "vec_id", "embedding", "cid", "cv", k = RboK,
          nprobe = Extensions.ServingNprobe, spill = Extensions.ServingSpill)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("__ra"))
      val wCase = rboW.tail.foldLeft(
        when(col("__m") === rboW.head._1, lit(rboW.head._2))) {
        case (acc, (m, w)) => acc.when(col("__m") === m, lit(w))
      }.cast(DecimalType(27, 9))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        // Spark's greatest() SKIPS nulls — an unmatched neighbor must
        // stay null (no contribution), not fall back to its exact rank
        .withColumn("__m",
          when(col("__ra").isNotNull, greatest(col("__re"), col("__ra"))))
        .withColumn("__wt", wCase)
        .groupBy(col("query_id"))
        .agg(count(col("__m")).as("n_common"), sum(col("__wt")).as("__ws"))
        .withColumn("rbo",
          round(coalesce(col("__ws").cast("double"), lit(0.0)) * lit(rboNorm), 9))
        .select(col("query_id"), col("n_common"), col("rbo"))
        .orderBy(col("query_id"))
    },
    Some(s"""
      WITH ${Fragments.sqlExactPairsCtes("ep")},
      ${Fragments.sqlRankCte("exact", "ep", RboK, "query_id, neighbor_id, rank")},
      ${Fragments.sqlServeApproxCtes(Extensions.ServingSpill, Extensions.ServingNprobe, RboK,
          "query_id, neighbor_id, rank")},
      j AS (SELECT e.query_id,
              CASE WHEN a.neighbor_id IS NULL THEN NULL
                   ELSE CASE greatest(e.rank, a.rank)
                     ${rboW.map { case (m, w) =>
                       s"WHEN $m THEN CAST('$w' AS DECIMAL(27,9))" }.mkString(" ")}
                   END END AS wt
            FROM exact e LEFT JOIN approx a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
      SELECT query_id, count(wt)::BIGINT AS n_common,
             round(coalesce(sum(wt)::DOUBLE, 0.0) * $rboNorm, 9) AS rbo
      FROM j GROUP BY query_id ORDER BY query_id
    """.trim))

  val all: Seq[Q] = Seq(samplePareto, textNgramDiversity, dedupClusterReport,
    evalAbWelch, evalRankOverlap)
}
