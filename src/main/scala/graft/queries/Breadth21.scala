package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.functions._

/** Round-13 wave: the ER agreement (precision) tier and its
  * precision/recall frontier eval.
  */
object Breadth21 {

  /** DuckDB twin of the two-pass capped propose WITH per-pair pass
    * counts ([[graft.ext.EntityOps.agreementNamePairs]]' candidate
    * stage): same per-pass HAVING caps as `erMultiPassCandCtes`, but
    * UNION ALL + pair GROUP BY so n_passes survives (a pair appears at
    * most once per pass — each record is in exactly one block per key).
    */
  private[queries] def erCandPassesCtes: String =
    s"""${Fragments.ErBlockCtes},
      candp AS (SELECT id_a, id_b, na, nb, count(*)::BIGINT AS n_passes FROM (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                 a.c_name AS na, b.c_name AS nb
          FROM k1 a JOIN k1 b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
          UNION ALL
          SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
          FROM k2 a JOIN k2 b ON a.blk = b.blk AND a.c_custkey < b.c_custkey)
        GROUP BY 1, 2, 3, 4)"""

  /** The agreement-tier verified pairs over the three-typo-class
    * fixture — [[graft.ext.EntityOps.agreementNamePairs]]: keep a
    * verified pair only when the edit distance is tight (≤ 1) or ≥ 2
    * independent blocking passes proposed it. The precision stance a
    * production linker ships when review capacity is the constraint;
    * `eval_er_frontier` prices exactly what it buys and costs per typo
    * class against the recall-first `er_multipass_pairs`.
    */
  val erAgreementPairs = Q(
    "er_agreement_pairs",
    (s, dir) =>
      // propose from the ingest-staged block index (r17): the pass
      // counting, levenshtein verify and agreement filter stay live
      graft.ext.EntityOps.agreementPairsFromIndex(
          s.read.parquet(Breadth11.ensureErBlocksD3(s, dir)),
          maxDist = 2, tightDist = 1, minPasses = 2)
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""
      WITH ${Breadth11.erRecordsD3Ctes},
      $erCandPassesCtes
      SELECT id_a, id_b, na AS name_a, nb AS name_b,
             levenshtein(na, nb)::BIGINT AS dist, n_passes
      FROM candp
      WHERE levenshtein(na, nb) <= 2
        AND (levenshtein(na, nb) <= 1 OR n_passes >= 2)
      ORDER BY id_a, id_b
    """.trim))

  private def erTierMetrics(tier: String,
      pred: org.apache.spark.sql.DataFrame,
      truth: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Fragments.erClassMetrics(pred, truth)
      .select(lit(tier).as("tier"), col("cls"), col("n_truth"),
        col("n_pred"), col("n_hit"), col("precision"), col("recall"))

  private def erFrontierTierSql(tier: String, predCte: String): String =
    s"""j_$tier AS (SELECT coalesce(p.id_a, t.id_a) AS id_a,
                   coalesce(p.id_b, t.id_b) AS id_b, p.p, t.t
            FROM $predCte p FULL OUTER JOIN truth t
              ON p.id_a = t.id_a AND p.id_b = t.id_b),
      c_$tier AS (SELECT ${Fragments.ErClassCols}
            FROM j_$tier),
      a_$tier AS (SELECT '$tier' AS tier, cls, sum(t)::BIGINT AS n_truth,
                   sum(p)::BIGINT AS n_pred, sum(hit)::BIGINT AS n_hit
            FROM c_$tier GROUP BY cls)"""

  /** The ER precision/recall FRONTIER per typo class — the recall-first
    * two-pass propose (`two_pass_d2`, = `er_multipass_pairs`) against
    * the agreement tier (`agree2_or_d1`, = `er_agreement_pairs`), both
    * scored against the fixture's injected truth. What the readout
    * shows, and why it is the honest deliverable (VERDICT r12 item 4):
    * the agreement tier zeroes the dist-2 single-pass evidence class
    * (on this fixture: transposition recall 1 → 0, the stated cost) and
    * CANNOT lift suffix-class precision above ~0.1 — the flat frontier
    * of a single-field corpus, where the typo'd name is byte-identical
    * to a wrong serial neighbor (both passes AND the tightest verifier
    * vote for the imposter). The base_pair row prices the same theorem
    * from the false-positive side. A deployment that needs suffix
    * precision verifies on a second field; this eval is the evidence.
    */
  val evalErFrontier = Q(
    "eval_er_frontier",
    (s, dir) => {
      val truth = Fragments.erTruth(s, dir)
      // ONE propose serves BOTH tiers (r17): the recall-first tier is
      // the verified pairs-with-passes frame itself, the agreement tier
      // a filter on it — the live path ran the whole two-pass propose
      // twice. Eager checkpoint: the frame is referenced by both tiers
      // before any action (the lazy-checkpoint safety rule).
      val vp = graft.ext.EntityOps.pairsWithPassesFromIndex(
          s.read.parquet(Breadth11.ensureErBlocksD3(s, dir)), maxDist = 2)
        .localCheckpoint()
      val agree = vp.filter(col("dist") <= 1 || col("n_passes") >= 2)
      erTierMetrics("two_pass_d2", vp, truth)
        .unionByName(erTierMetrics("agree2_or_d1", agree, truth))
        .orderBy(col("tier"), col("cls"))
    },
    Some(s"""
      WITH ${Breadth11.erRecordsD3Ctes},
      $erCandPassesCtes,
      pred_base AS (SELECT id_a, id_b, 1 AS p FROM candp
                    WHERE levenshtein(na, nb) <= 2),
      pred_agree AS (SELECT id_a, id_b, 1 AS p FROM candp
                     WHERE levenshtein(na, nb) <= 2
                       AND (levenshtein(na, nb) <= 1 OR n_passes >= 2)),
      ${Fragments.ErTruthCte},
      ${erFrontierTierSql("two_pass_d2", "pred_base")},
      ${erFrontierTierSql("agree2_or_d1", "pred_agree")},
      u AS (SELECT * FROM a_two_pass_d2 UNION ALL SELECT * FROM a_agree2_or_d1)
      SELECT tier, cls, n_truth, n_pred, n_hit,
             CASE WHEN n_pred > 0
                  THEN round(n_hit::DOUBLE / n_pred, 9) END AS precision,
             CASE WHEN n_truth > 0
                  THEN round(n_hit::DOUBLE / n_truth, 9) END AS recall
      FROM u ORDER BY tier, cls
    """.trim))

  /** Routing ECONOMICS of the flat vs two-level serving tiers — what
    * each tier's routing cosines/query buy in recall@5, from the SAME
    * persisted int8 index and exact full-precision truth (VERDICT r12
    * item 5's "routed row"): `flat_nprobe15` scores every trained cell
    * per query (the exact-routing baseline, c cosines); `routed_nsuper3`
    * scores the √c supers plus its 3 routed supers' children —
    * measured at sf0.1: recall 0.75 at 333 cosines vs 0.56 at ~101.
    * The crossover argument this table exists for: routed cosines grow
    * as √c while flat grows as c, so the routed tier wins once the
    * cell count (∝ corpus size at fixed list length) makes flat
    * scoring the serve bottleneck — at tens of thousands of cells the
    * flat column would read 10⁴ while routed reads ~3·10². Routing
    * cosines are exact per-query counts (children partition over
    * supers), averaged; recall is against the exact top-5.
    */
  val evalRoutedEconomics = Q(
    "eval_routed_economics",
    (s, dir) => {
      import graft.ext.Similarity
      val emb = Tables(s, dir, "embeddings")
      val queries = Fragments.annQueries(emb)
      val idx = s.read.parquet(Extensions.ensureIvfInt8Index(s, dir))
      val cents = Extensions.servingCentroids(s, dir)
      val truth = s.read.parquet(Extensions.ensureAnnTruth(s, dir))
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__t"))
      val tTot = truth.agg(count(lit(1)).as("n_truth"))
      def metrics(config: String, pred: org.apache.spark.sql.DataFrame,
          cosines: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        pred.select(col("query_id"), col("neighbor_id"))
          .join(truth, Seq("query_id", "neighbor_id"), "left")
          .agg(sum(coalesce(col("__t"), lit(0L))).as("n_hit"))
          .crossJoin(broadcast(tTot))
          .crossJoin(broadcast(cosines))
          .select(lit(config).as("config"), col("routing_cosines"),
            col("n_truth"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_truth").cast("double"), 9)
              .as("recall"))
      val flat = Similarity.serveQuantizedIvf(s, idx, queries, cents,
        "vec_id", "embedding", "cid", "cv", k = 5,
        nprobe = Extensions.ServingNprobe, spill = Extensions.ServingSpill)
      val flatCos = cents
        .agg(count(lit(1)).cast("double").as("routing_cosines"))
      val routed = Similarity.serveQuantizedIvfTwoLevel(s, idx, queries, cents,
        "vec_id", "embedding", "cid", "cv", k = 5,
        superMod = 29, superResidue = 7, nsuper = 3,
        nprobe = Extensions.ServingNprobe)
      val routedCos = Similarity.twoLevelRoutingCosines(s, queries, cents,
          "vec_id", "embedding", "cid", "cv",
          superMod = 29, superResidue = 7, nsuper = 3)
        .agg(round(avg(col("routing_cosines")), 9).as("routing_cosines"))
      metrics("flat_nprobe15", flat, flatCos)
        .unionByName(metrics("routed_nsuper3", routed, routedCos))
        .orderBy(col("config"))
    },
    Some(s"""
      WITH ${Fragments.sqlInt8IndexCtes(Extensions.ServingSpill)},
      ${Fragments.sqlSuperCtes},
      ch AS (SELECT super, count(*)::BIGINT AS nch FROM c2s GROUP BY super),
      ${Fragments.sqlQuerySupersCte},
      qcos AS (SELECT vec_id,
                 (SELECT count(*) FROM sup)::BIGINT + sum(nch) AS rc
               FROM q2s JOIN ch USING (super) GROUP BY vec_id),
      rcos AS (SELECT round(avg(rc), 9) AS routing_cosines FROM qcos),
      qf AS (SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, t.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${Fragments.sqlCos("e.embedding", "t.cv")} DESC, t.cid) AS rn
          FROM embeddings e, cent t WHERE e.vec_id % 100 = 0)
        WHERE rn <= ${Extensions.ServingNprobe}),
      pflat AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ${Fragments.sqlCos("q.embedding", "c.embedding")} AS sim
            FROM qf q JOIN corp_a c ON q.cid = c.cid AND q.vec_id <> c.vec_id),
      ${Fragments.sqlRankCte("predf", "pflat", 5)},
      ${Fragments.sqlRoutedProbeCte("qr", Extensions.ServingNprobe)},
      prout AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ${Fragments.sqlCos("q.embedding", "c.embedding")} AS sim
            FROM qr q JOIN corp_a c ON q.cid = c.cid AND q.vec_id <> c.vec_id),
      ${Fragments.sqlRankCte("predr", "prout", 5)},
      ${Fragments.sqlTruthTop5Ctes},
      nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
      hf AS (SELECT count(*)::BIGINT AS n_hit
             FROM predf JOIN truth USING (query_id, neighbor_id)),
      hr AS (SELECT count(*)::BIGINT AS n_hit
             FROM predr JOIN truth USING (query_id, neighbor_id))
      SELECT * FROM (
        SELECT 'flat_nprobe15' AS config,
               (SELECT count(*) FROM cent)::DOUBLE AS routing_cosines,
               nt.n_truth, hf.n_hit,
               round(hf.n_hit::DOUBLE / nt.n_truth, 9) AS recall
        FROM nt, hf
        UNION ALL
        SELECT 'routed_nsuper3', (SELECT routing_cosines FROM rcos),
               nt.n_truth, hr.n_hit,
               round(hr.n_hit::DOUBLE / nt.n_truth, 9)
        FROM nt, hr)
      ORDER BY config
    """.trim))

  /** Incremental EXACT set-similarity march —
    * [[graft.ext.Dedup.prefixPairsMarch]], the prefix-filter twin of
    * `dedup_incremental_pairs`: the same md5-sampled corpus and 3-word
    * shingle-hash tokens as `dedup_prefix_filter`, arriving as two
    * deterministic batches whose per-doc ranked states are doc-slices
    * of the PERSISTED frozen-rarity artifact (`ensurePrefixRanked` —
    * per-doc rows under ONE total order, so slicing by doc is exactly
    * what an ingest phase persists per batch; a from-scratch march
    * uses [[graft.ext.Dedup.valueRankedTokens]]' corpus-independent
    * value order instead, Round13Spec pins both equal). Each landing
    * emits exactly the verified pairs it completes (delta×state prefix
    * join + delta×delta PPJoin). The ORACLE is byte-identical to the
    * one-shot `dedup_prefix_filter` SQL (the naive all-pairs exact
    * Jaccard over the same sample), so the driver's hash gate
    * re-proves march == one-shot — including equal jaccard VALUES —
    * every round.
    */
  val dedupIncrementalPrefix = Q(
    "dedup_incremental_prefix",
    (s, dir) => {
      import graft.ext.Dedup
      val ranked = s.read.parquet(Breadth11.ensurePrefixRanked(s, dir))
      val split = Dedup.hash32(col("doc_id").cast("string")) % 4
      Dedup.prefixPairsMarch(
          Seq(ranked.filter(split === 0), ranked.filter(split =!= 0)),
          "doc_id", threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // the one-shot oracle, verbatim — the march must equal it exactly
    Some(Breadth11.dedupPrefixFilter.oracle.get))

  /** l-diversity audit body over an explicit (nation, segment,
    * bal_band) frame — factored for the spec fixture. Quasi-identifiers
    * here are (nation, segment); the SENSITIVE attribute is the
    * account-balance band (k-anonymity's third quasi-id changes hats:
    * balance is exactly the attribute a release must not let the
    * quasi-ids disclose). One shuffled aggregate; the distinct count is
    * per-class over a ≤11-value attribute, so partial aggregation keeps
    * it map-side-combined at any corpus size.
    */
  private[graft] def lDiversityAudit(q: org.apache.spark.sql.DataFrame,
      l: Long): org.apache.spark.sql.DataFrame =
    q.groupBy(col("nation"), col("segment"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("bal_band")).as("n_sensitive"))
      .withColumn("meets_l", (col("n_sensitive") >= l).cast("long"))
      .orderBy(col("nation"), col("segment"))

  /** l-diversity companion to `dq13_k_anonymity` (VERDICT r12 item 8):
    * a class can be large enough for k-anonymity and still disclose —
    * if every member of (nation, segment) sits in the SAME balance
    * band, knowing someone's nation+segment reveals their balance band
    * exactly. Distinct l-diversity requires ≥ l distinct sensitive
    * values per equivalence class; the report lists every class with
    * its size, diversity, and the l=3 verdict — the table a release
    * review reads next to the k-anonymity audit.
    */
  val dqLDiversity = Q(
    "dq14_l_diversity",
    (s, dir) => lDiversityAudit(Breadth20.customerQuasiIds(s, dir), l = 3L),
    Some("""
      WITH q AS (SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
                        floor(c_acctbal / 1000.0)::BIGINT AS bal_band
                 FROM customer)
      SELECT nation, segment, count(*)::BIGINT AS class_size,
             count(DISTINCT bal_band)::BIGINT AS n_sensitive,
             (count(DISTINCT bal_band) >= 3)::BIGINT AS meets_l
      FROM q GROUP BY 1, 2 ORDER BY nation, segment
    """.trim))

  /** t-closeness audit body (Li et al., ICDE'07) over an explicit
    * (nation, segment, bal_band) frame — the third rung of the
    * governance ladder: k-anonymity bounds class SIZE, l-diversity
    * bounds sensitive CARDINALITY, and t-closeness bounds how much the
    * class's sensitive DISTRIBUTION deviates from the global one (a
    * class can be large and diverse yet still leak — e.g. 90% of one
    * nation+segment in the bottom band when the corpus is uniform).
    * Distance is the ordinal 1-D earth-mover's distance: the band
    * domain is ordered, so EMD = Σ|running CDF difference| / (m−1),
    * exactly the paper's numerical-attribute formula. Plan shape: two
    * grouped aggregates over the quasi-id key, a broadcast
    * classes×bands grid (both metadata-scale), and an ≤m-row running
    * window per class — no row-level data past the first aggregates.
    * Floats are engine-portable: both engines fold the same ≤m ordered
    * doubles per class, one final round to 9 dp.
    */
  private[graft] def tClosenessAudit(q0: org.apache.spark.sql.DataFrame,
      t: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = q0.localCheckpoint()
    val n = q.agg(count(lit(1)).cast("double").as("__n"))
    val g = q.groupBy(col("bal_band")).agg(count(lit(1)).cast("double").as("__gc"))
    val m = g.agg(count(lit(1)).as("__m"))
    val cls = q.groupBy(col("nation"), col("segment"))
      .agg(count(lit(1)).cast("double").as("__cs"))
    val cb = q.groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).cast("double").as("__cc"))
    val grid = cls.crossJoin(broadcast(g))
      .join(cb, Seq("nation", "segment", "bal_band"), "left")
      .withColumn("__cc", coalesce(col("__cc"), lit(0.0)))
      .crossJoin(broadcast(n))
    val w = Window.partitionBy(col("nation"), col("segment"))
      .orderBy(col("bal_band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("__cum", sum(col("__cc") / col("__cs") - col("__gc") / col("__n")).over(w))
      .groupBy(col("nation"), col("segment"))
      // |cum| values are summed as 12-dp DECIMAL so the ≤m-element
      // aggregate is exact and order-independent (cum itself is a
      // deterministic sequential window fold in both engines)
      .agg(first(col("__cs")).cast("long").as("class_size"),
        sum(round(abs(col("__cum")), 12)
          .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .cast("double").as("__d"))
      .crossJoin(broadcast(m))
      .withColumn("t_distance", round(col("__d") / (col("__m") - 1), 9))
      .withColumn("meets_t", (col("t_distance") <= t).cast("long"))
      .select(col("nation"), col("segment"), col("class_size"),
        col("t_distance"), col("meets_t"))
      .orderBy(col("nation"), col("segment"))
  }

  /** t-closeness over the customer quasi-ids — see [[tClosenessAudit]];
    * threshold t = 0.2 (the paper's working example).
    */
  val dqTCloseness = Q(
    "dq15_t_closeness",
    (s, dir) => tClosenessAudit(Breadth20.customerQuasiIds(s, dir), t = 0.2),
    Some("""
      WITH q AS (SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
                        floor(c_acctbal / 1000.0)::BIGINT AS bal_band
                 FROM customer),
      n AS (SELECT count(*)::DOUBLE AS n FROM q),
      g AS (SELECT bal_band, count(*)::DOUBLE AS gc FROM q GROUP BY 1),
      m AS (SELECT count(*)::BIGINT AS m FROM g),
      cls AS (SELECT nation, segment, count(*)::DOUBLE AS cs FROM q GROUP BY 1, 2),
      cb AS (SELECT nation, segment, bal_band, count(*)::DOUBLE AS cc
             FROM q GROUP BY 1, 2, 3),
      grid AS (SELECT cls.nation, cls.segment, cls.cs, g.bal_band, g.gc,
                      coalesce(cb.cc, 0.0) AS cc
               FROM cls CROSS JOIN g
               LEFT JOIN cb ON cb.nation = cls.nation
                 AND cb.segment = cls.segment AND cb.bal_band = g.bal_band),
      d AS (SELECT nation, segment, cs, bal_band,
                   sum(cc / cs - gc / (SELECT n FROM n)) OVER (
                     PARTITION BY nation, segment ORDER BY bal_band
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM grid)
      SELECT nation, segment, cs::BIGINT AS class_size,
             round(sum(CAST(round(abs(cum), 12) AS DECIMAL(38, 12)))::DOUBLE
                   / ((SELECT m FROM m) - 1), 9) AS t_distance,
             (round(sum(CAST(round(abs(cum), 12) AS DECIMAL(38, 12)))::DOUBLE
                    / ((SELECT m FROM m) - 1), 9) <= 0.2)::BIGINT AS meets_t
      FROM d GROUP BY nation, segment, cs
      ORDER BY nation, segment
    """.trim))

  private val LshTiers = Seq(1, 2, 4, 8)

  private def lshTierSql(r: Int): String = {
    val nb = graft.ext.Dedup.SeedsA.length / r
    val bands = (0 until nb).map { j =>
      val parts = (0 until r).map(i => s"sig[${j * r + i + 1}]::VARCHAR")
        .mkString(" || '_' || ")
      s"'$j:' || $parts"
    }.mkString(", ")
    s"""bands_$r AS (SELECT doc_id, unnest([$bands]) AS band FROM sig),
      cand_$r AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands_$r a JOIN bands_$r b
                    ON a.band = b.band AND a.doc_id < b.doc_id),
      m_$r AS (SELECT $r::BIGINT AS rows_per_band, $nb::BIGINT AS n_bands,
                 (SELECT count(*) FROM tp)::BIGINT AS n_truth,
                 (SELECT count(*) FROM cand_$r)::BIGINT AS n_proposed,
                 (SELECT count(*) FROM cand_$r JOIN tp
                    USING (doc_a, doc_b))::BIGINT AS n_hit)"""
  }

  /** LSH banding ECONOMICS — the dedup twin of `eval_probe_curve`
    * (the readout behind every rowsPerBand constant in the MinHash
    * family): ONE 8-hash signature per doc is cut into every
    * (rowsPerBand r, bands 8/r) tier, each tier's candidate pairs are
    * scored against the EXACT distinct-shingle Jaccard ≥ 0.5 truth —
    * computed by the prefix-filter join, whose zero-false-negative
    * theorem is what makes an exact truth affordable without an n²
    * Spark stage — and the table prices the collision s-curve
    * 1−(1−J^r)^(8/r) empirically: r=1 proposes recall-first (any
    * shared hash collides), r=8 precision-first (all 8 must agree).
    * The corpus is an md5-systematic sample of BASE doc ids under an
    * ABSOLUTE cap (1-in-4 of base id < 1000, both the original and
    * its perturbed copy — the r10 eval_knn_accuracy budget
    * discipline): the r=1 tier proposes on ANY shared hash, so
    * candidate volume is quadratic in sampled docs — a proportional
    * sample grows linearly with the corpus and the tier blows up at
    * 100× (VERDICT r13 #3); the fixed budget keeps the EVAL's cost
    * flat at any corpus size (the cap never binds below sf0.02).
    * Base-keyed sampling keeps each original WITH its copy, so the
    * truth set stays rich in real near-dup pairs.
    */
  val evalLshCurve = Q(
    "eval_lsh_curve",
    (s, dir) => {
      import graft.ext.Dedup
      graft.functions.VectorExpressions.register(s)
      val docs = Fragments.augmentedDocs(s, dir, perturb = true)
        // base id < 1000 bounds the budget within one id epoch; the
        // absolute doc_id < 200000 bound keeps it fixed even when a
        // grown corpus (ScaleSmoke's replica strides) adds new epochs
        .filter(Dedup.hash32((col("doc_id") % 100000L).cast("string")) % 4 === 1
          && col("doc_id") % 100000L < 1000L && col("doc_id") < 200000L)
      val hashed = Dedup.withShingleHashes(docs, "text", k = 3)
        .select(col("doc_id"), col("__hashes"))
        .localCheckpoint()
      val truth = Dedup.prefixFilterPairsRanked(
          Dedup.rankedTokens(hashed, "doc_id", "__hashes").localCheckpoint(),
          "doc_id", threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("__t"))
        .localCheckpoint()
      val tTot = truth.agg(count(lit(1)).as("n_truth"))
      val sig = hashed
        .withColumn("__sig", expr("graft_minhash_sig(__hashes)"))
        .select(col("doc_id"), col("__sig"))
        .localCheckpoint()
      // ONE tier-tagged band self-join for all four tiers (r16): the
      // per-tier loop planned four independent join+distinct+agg
      // pipelines — 4× the exchanges for band-bucket work that keys
      // cleanly on (tier, band). Candidates stay per-tier identical
      // because the tier tag is part of the join key; n_hit rides the
      // same aggregate as n_proposed via a left join against the truth
      // pairs (truth pairs are distinct, so the sum of matched flags is
      // the inner-join count).
      val bandsAll = LshTiers.map { r =>
        Dedup.bandsOfSig(sig, "doc_id", r).withColumn("__r", lit(r.toLong))
      }.reduce(_ unionByName _)
      val byTier = graft.ext.PostingIndex.selfJoin(bandsAll, "doc_id", Seq("__r", "band"))
        .select(col("__r"), col("doc_a"), col("doc_b")).distinct()
        .join(truth, Seq("doc_a", "doc_b"), "left")
        .groupBy(col("__r"))
        .agg(count(lit(1)).as("n_proposed"),
          sum(coalesce(col("__t"), lit(0L))).as("n_hit"))
        .withColumnRenamed("__r", "rows_per_band")
      // a tier proposing zero candidates has no aggregate group — the
      // 4-row tier dimension frame (carrying n_truth) left-joins so the
      // output always has one row per tier, zeros filled
      val tiers = LshTiers.map { r =>
        tTot.select(lit(r.toLong).as("rows_per_band"),
          lit((Dedup.SeedsA.length / r).toLong).as("n_bands"), col("n_truth"))
      }.reduce(_ unionByName _)
      tiers.join(byTier, Seq("rows_per_band"), "left")
        .select(col("rows_per_band"), col("n_bands"), col("n_truth"),
          coalesce(col("n_proposed"), lit(0L)).as("n_proposed"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("precision", when(col("n_proposed") > 0,
          round(col("n_hit").cast("double") / col("n_proposed"), 9)))
        .withColumn("recall", when(col("n_truth") > 0,
          round(col("n_hit").cast("double") / col("n_truth"), 9)))
        .orderBy(col("rows_per_band"))
    },
    Some(s"""
      WITH ${Fragments.augCte(perturb = true)},
      samp AS (SELECT doc_id, text FROM aug
               WHERE ('0x' || substr(md5((doc_id % 100000)::VARCHAR), 1, 8))::BIGINT % 4 = 1
                 AND doc_id % 100000 < 1000 AND doc_id < 200000),
      ${Fragments.minhashSigCtes("samp")},
      dh AS (SELECT doc_id, list_distinct(hs) AS ds FROM hs),
      tp AS (SELECT doc_a, doc_b FROM (
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_filter(a.ds, x -> list_contains(b.ds, x))) AS inter,
                      len(a.ds) + len(b.ds) AS tot
               FROM dh a JOIN dh b ON a.doc_id < b.doc_id)
             WHERE inter::DOUBLE / (tot - inter) >= 0.5),
      ${LshTiers.map(lshTierSql).mkString(",\n      ")}
      SELECT rows_per_band, n_bands, n_truth, n_proposed, n_hit,
             CASE WHEN n_proposed > 0
                  THEN round(n_hit::DOUBLE / n_proposed, 9) END AS precision,
             CASE WHEN n_truth > 0
                  THEN round(n_hit::DOUBLE / n_truth, 9) END AS recall
      FROM (${LshTiers.map(r => s"SELECT * FROM m_$r").mkString(" UNION ALL ")})
      ORDER BY rows_per_band
    """.trim))

  /** Winnow-fingerprint pair product over the perturbed augmented
    * corpus — [[graft.ext.TextOps.winnowPairs]] (k=4 grams, window 4,
    * df ≤ 20, ≥ 3 shared fingerprints): the span-complete plagiarism
    * pair detector. The corpus's `xx `-prepended near-copies share
    * nearly all fingerprints, so every original/copy pair surfaces at
    * overlap ≈ 1 — the signal `text_winnow_fingerprint`'s per-doc
    * ratio aggregates, here as the pair product a review queue
    * consumes.
    */
  val dedupWinnowPairs = Q(
    "dedup_winnow_pairs",
    (s, dir) =>
      graft.ext.TextOps.winnowPairsFromPostings(
          s.read.parquet(graft.queries.Breadth20.ensureWinnowPostings(s, dir)),
          "doc_id", minShared = 3, maxDf = 20)
        .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""
      WITH ${Fragments.sqlWinnowFpCtes},
      tot AS (SELECT doc_id, count(*)::BIGINT AS nf FROM f GROUP BY doc_id),
      d AS (SELECT fp, count(*)::BIGINT AS df FROM f GROUP BY fp),
      k AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)
            WHERE df BETWEEN 2 AND 20),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*)::BIGINT AS n_shared
            FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_shared,
             round(n_shared::DOUBLE / least(ta.nf, tb.nf), 9) AS overlap
      FROM p JOIN tot ta ON ta.doc_id = p.doc_a
             JOIN tot tb ON tb.doc_id = p.doc_b
      WHERE n_shared >= 3
      ORDER BY doc_a, doc_b
    """.trim))

  private val DimTiers = Seq(8, 16, 32, 64)

  private def dimTierSql(d: Int): String =
    s"""q_$d AS (SELECT vec_id AS query_id, embedding[1:$d] AS qv
              FROM embeddings WHERE vec_id % 100 = 0),
      c_$d AS (SELECT vec_id AS neighbor_id, embedding[1:$d] AS cv FROM embeddings),
      p_$d AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${Fragments.sqlCos("qv", "cv")} DESC, neighbor_id) AS rank
          FROM q_$d, c_$d WHERE query_id <> neighbor_id) WHERE rank <= 5),
      m_$d AS (SELECT $d::BIGINT AS dims,
                 (SELECT count(*) FROM truth)::BIGINT AS n_truth,
                 (SELECT count(*) FROM p_$d JOIN truth
                    USING (query_id, neighbor_id))::BIGINT AS n_hit)"""

  /** Dimension-truncation recall — the serving-memory economics of
    * storing only the first d dims of every vector (the matryoshka /
    * dimension-pruning question: index memory and scan cost are ∝ d,
    * so what does each prefix buy?): exact top-5 under the truncated
    * cosine per tier d ∈ {8,16,32,64}, scored against the full-64-dim
    * exact truth. The d=64 row is the recall-1.0 anchor; the table is
    * the dial a serving owner reads next to the int8/PQ rows (those
    * compress PER-dim; this drops dims — independent multiplicative
    * savings). Brute-force per tier is the honest baseline at the
    * fixed query budget: cost is n_queries × corpus × d, no index to
    * confound the reading.
    */
  val evalDimTruncation = Q(
    "eval_dim_truncation",
    (s, dir) => {
      import graft.ext.Similarity
      val emb = Tables(s, dir, "embeddings")
      val truth = s.read.parquet(Extensions.ensureAnnTruth(s, dir))
        .select(col("query_id"), col("neighbor_id"))
      val tTot = truth.agg(count(lit(1)).as("n_truth"))
      DimTiers.map { d =>
        val tEmb = emb.select(col("vec_id"),
          expr(s"slice(embedding, 1, $d)").as("embedding"))
        val pred = Similarity.bruteForceTopK(s, tEmb,
          Fragments.annQueries(tEmb), "vec_id", "embedding", k = 5)
        val nHit = pred.select(col("query_id"), col("neighbor_id"))
          .join(truth, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_hit"))
        nHit.crossJoin(broadcast(tTot))
          .select(lit(d.toLong).as("dims"), col("n_truth"), col("n_hit"))
      }.reduce(_ unionByName _)
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_truth").cast("double"), 9))
        .orderBy(col("dims"))
    },
    Some(s"""
      WITH ${Fragments.sqlTruthTop5Ctes},
      ${DimTiers.map(dimTierSql).mkString(",\n      ")}
      SELECT dims, n_truth, n_hit,
             round(n_hit::DOUBLE / n_truth, 9) AS recall
      FROM (${DimTiers.map(d => s"SELECT * FROM m_$d").mkString(" UNION ALL ")})
      ORDER BY dims
    """.trim))

  /** The release GATE scorecard — the one-page table a data-release
    * review reads before anything ships (the governance capstone, the
    * `pipeline_dataset_card` pattern applied to risk): every
    * already-oracled audit reduced to its risk count and a pass/review
    * verdict. Checks: k-anonymity (classes smaller than k=5),
    * l-diversity (classes below l=3 distinct sensitive values),
    * t-closeness (classes farther than t=0.2 from the global sensitive
    * distribution), PII (docs with detected email/phone/IP), and split
    * leakage (content fingerprints straddling train/val/test). Each
    * check is ONE aggregate over its component's frame — the capstone
    * adds no new scale term, and a check that fails here points at the
    * component query that details it. The two corpus-scale checks read
    * ingest-staged artifacts ([[Breadth11.ensurePiiStats]],
    * [[Breadth8.ensureSplitFingerprints]]) — zero corpus text scans in
    * the gate itself (VERDICT r14 item 2: the in-query re-derivation
    * had quietly tripled the gate's cost).
    */
  val pipelineReleaseGate = Q(
    "pipeline_release_gate",
    (s, dir) => {
      def check(no: Long, name: String,
          risk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        risk.agg(count(lit(1)).as("n_risk"))
          .select(lit(no).as("check_no"), lit(name).as("check"), col("n_risk"),
            when(col("n_risk") === 0L, lit("pass")).otherwise(lit("review"))
              .as("gate"))
      val q = Breadth20.customerQuasiIds(s, dir).localCheckpoint()
      Seq(
        check(1L, "k_anonymity_k5", Breadth20.kAnonymityAudit(q, k = 5L)),
        check(2L, "l_diversity_l3",
          lDiversityAudit(q, l = 3L).filter(col("meets_l") === 0)),
        check(3L, "t_closeness_t02",
          tClosenessAudit(q, t = 0.2).filter(col("meets_t") === 0)),
        check(4L, "pii_hits",
          s.read.parquet(Breadth11.ensurePiiStats(s, dir))),
        check(5L, "split_leakage",
          s.read.parquet(Breadth8.ensureSplitFingerprints(s, dir))
            .groupBy(col("fingerprint"))
            .agg(countDistinct(col("split")).as("n_splits"))
            .filter(col("n_splits") >= 2)))
        .reduce(_ unionByName _)
        .orderBy(col("check_no"))
    },
    Some(s"""
      WITH q AS (SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
                        floor(c_acctbal / 1000.0)::BIGINT AS bal_band
                 FROM customer),
      ka AS (SELECT count(*)::BIGINT AS n FROM (
               SELECT 1 FROM q GROUP BY nation, segment, bal_band
               HAVING count(*) < 5)),
      ld AS (SELECT count(*)::BIGINT AS n FROM (
               SELECT 1 FROM q GROUP BY nation, segment
               HAVING count(DISTINCT bal_band) < 3)),
      tn AS (SELECT count(*)::DOUBLE AS n FROM q),
      tg AS (SELECT bal_band, count(*)::DOUBLE AS gc FROM q GROUP BY 1),
      tm AS (SELECT count(*)::BIGINT AS m FROM tg),
      tcls AS (SELECT nation, segment, count(*)::DOUBLE AS cs FROM q GROUP BY 1, 2),
      tcb AS (SELECT nation, segment, bal_band, count(*)::DOUBLE AS cc
              FROM q GROUP BY 1, 2, 3),
      tgrid AS (SELECT tcls.nation, tcls.segment, tcls.cs, tg.bal_band, tg.gc,
                       coalesce(tcb.cc, 0.0) AS cc
                FROM tcls CROSS JOIN tg
                LEFT JOIN tcb ON tcb.nation = tcls.nation
                  AND tcb.segment = tcls.segment AND tcb.bal_band = tg.bal_band),
      td AS (SELECT nation, segment,
                    sum(cc / cs - gc / (SELECT n FROM tn)) OVER (
                      PARTITION BY nation, segment ORDER BY bal_band
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM tgrid),
      tc AS (SELECT count(*)::BIGINT AS n FROM (
               SELECT nation, segment FROM td GROUP BY nation, segment
               HAVING round(sum(CAST(round(abs(cum), 12) AS DECIMAL(38, 12)))::DOUBLE
                            / ((SELECT m FROM tm) - 1), 9) > 0.2)),
      pdirty AS (${Fragments.PiiDirtyDocs}),
      pii AS (SELECT count(*)::BIGINT AS n FROM pdirty
              WHERE len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
                  + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}-[0-9]{4}'))
                  + len(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) > 0),
      ${Fragments.augCte(perturb = false)},
      lt AS (SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
                    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                         ELSE 'test' END AS split
             FROM (SELECT doc_id, text,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
                   FROM aug)),
      leak AS (SELECT count(*)::BIGINT AS n FROM (
                 SELECT fingerprint FROM lt GROUP BY fingerprint
                 HAVING count(DISTINCT split) >= 2)),
      u AS (SELECT 1::BIGINT AS check_no, 'k_anonymity_k5' AS "check",
                   (SELECT n FROM ka) AS n_risk
            UNION ALL SELECT 2, 'l_diversity_l3', (SELECT n FROM ld)
            UNION ALL SELECT 3, 't_closeness_t02', (SELECT n FROM tc)
            UNION ALL SELECT 4, 'pii_hits', (SELECT n FROM pii)
            UNION ALL SELECT 5, 'split_leakage', (SELECT n FROM leak))
      SELECT check_no, "check", n_risk,
             CASE WHEN n_risk = 0 THEN 'pass' ELSE 'review' END AS gate
      FROM u ORDER BY check_no
    """.trim))

  /** Keyframe per scene over the media byte-stream —
    * [[graft.ext.Multimodal.keyframes]]: the representative-frame
    * product (thumbnailing, dedup-by-keyframe, preview strips) on top
    * of the oracled scene segmentation. The oracle replays frame
    * energy → cut detection → scene numbering → per-scene
    * (rms DESC, frame ASC) argmax row-for-row.
    */
  val mediaKeyframes = Q(
    "media_keyframes",
    (s, dir) =>
      graft.ext.Multimodal.keyframes(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("scene_no")),
    Some(s"""
      WITH ${Fragments.sqlSceneCutCtes},
      sc AS (SELECT doc_id, frame_no, rms,
                    (sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_no
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT
                      AS scene_no
             FROM s),
      k AS (SELECT doc_id, scene_no, frame_no, rms,
                   row_number() OVER (PARTITION BY doc_id, scene_no
                     ORDER BY rms DESC, frame_no) AS rk
            FROM sc)
      SELECT k.doc_id, k.scene_no, k.frame_no AS keyframe_no, k.rms AS key_rms,
             g.scene_start, g.scene_end, g.n_frames
      FROM k JOIN (SELECT doc_id, scene_no, min(frame_no) AS scene_start,
                          max(frame_no) AS scene_end, count(*)::BIGINT AS n_frames
                   FROM sc GROUP BY doc_id, scene_no) g
        USING (doc_id, scene_no)
      WHERE k.rk = 1
      ORDER BY doc_id, scene_no
    """.trim))

  /** KMV set-operation sketch — distinct-audience OVERLAP between
    * event types from constant-size mergeable sketches
    * ([[graft.ext.SketchOps.kmvSketches]] /
    * [[graft.ext.SketchOps.kmvIntersectEstimates]]): the question HLL
    * (q34) cannot answer (HLL unions; it never intersects). Each
    * type's "heavy users" (per-user decimal value total above the
    * type's mean — a deliberately non-degenerate audience: every user
    * appears in every raw type) sketch to their 32 smallest md5
    * hashes; pair estimates come from the merged sketch's membership
    * votes next to the EXACT intersection, so the table shows the
    * estimator's error honestly. Everything after the one heavy-user
    * aggregate is sketch-scale (groups² × k rows); md5 hashing makes
    * the whole estimate replayable bit-for-bit in the oracle.
    */
  val sketchKmvIntersection = Q(
    "sketch_kmv_intersection",
    (s, dir) => {
      import graft.ext.{Dedup, SketchOps}
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("value"))
      val heavy = ev.groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("__tot"))
        .localCheckpoint()
      val avgs = heavy.groupBy(col("event_type"))
        .agg((sum(col("__tot")).cast("double") / count(lit(1))).as("__avg"))
      val hs = heavy.join(broadcast(avgs), "event_type")
        .filter(col("__tot").cast("double") > col("__avg"))
        .select(col("event_type"), col("user_id"))
        .localCheckpoint()
      val exact = hs.select(col("event_type").as("type_a"), col("user_id"))
        .join(hs.select(col("event_type").as("type_b"), col("user_id")), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_exact"))
      val tu = hs.withColumn("__h", Dedup.hash32(col("user_id").cast("string")))
      val sk = SketchOps.kmvSketches(tu, "event_type", "__h", k = 32)
      SketchOps.kmvIntersectEstimates(sk, "event_type", k = 32)
        .join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("n_exact"), col("kk"),
          col("est_union"), col("jaccard_est"), col("est_inter"))
        .orderBy(col("type_a"), col("type_b"))
    },
    Some("""
      WITH t AS (SELECT event_type, user_id,
                        sum(CAST(value AS DECIMAL(18, 2))) AS tot
                 FROM events GROUP BY 1, 2),
      a AS (SELECT event_type, sum(tot)::DOUBLE / count(*) AS avg_tot
            FROM t GROUP BY 1),
      h AS (SELECT t.event_type, t.user_id FROM t JOIN a USING (event_type)
            WHERE t.tot::DOUBLE > a.avg_tot),
      ex AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                    count(*)::BIGINT AS n_exact
             FROM h x JOIN h y ON x.user_id = y.user_id
               AND x.event_type < y.event_type
             GROUP BY 1, 2),
      tu AS (SELECT DISTINCT event_type,
                    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS hh
             FROM h),
      sk AS (SELECT event_type, hh FROM (
               SELECT event_type, hh,
                      row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rk
               FROM tu) WHERE rk <= 32),
      ty AS (SELECT DISTINCT event_type FROM sk),
      mg0 AS (SELECT s.event_type AS type_a, b.event_type AS type_b, s.hh, 1 AS src
              FROM sk s CROSS JOIN ty b WHERE s.event_type < b.event_type
              UNION ALL
              SELECT a2.event_type, s.event_type, s.hh, 2
              FROM sk s CROSS JOIN ty a2 WHERE a2.event_type < s.event_type),
      mg AS (SELECT type_a, type_b, hh,
                    max(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS in_a,
                    max(CASE WHEN src = 2 THEN 1 ELSE 0 END) AS in_b
             FROM mg0 GROUP BY 1, 2, 3),
      tk AS (SELECT * FROM (
               SELECT mg.*, row_number() OVER (PARTITION BY type_a, type_b
                 ORDER BY hh) AS rk FROM mg) WHERE rk <= 32),
      st AS (SELECT type_a, type_b, count(*)::BIGINT AS kk, max(hh) AS uk,
                    sum(in_a * in_b)::BIGINT AS n_match
             FROM tk GROUP BY 1, 2),
      est AS (SELECT type_a, type_b, kk,
                     CASE WHEN kk < 32 THEN kk::DOUBLE
                          ELSE round((kk - 1)::DOUBLE
                                     / (uk::DOUBLE / 4294967296.0), 6)
                     END AS est_union,
                     round(n_match::DOUBLE / kk, 9) AS jaccard_est
              FROM st)
      SELECT est.type_a, est.type_b, ex.n_exact, est.kk, est.est_union,
             est.jaccard_est,
             round(est.jaccard_est * est.est_union, 6) AS est_inter
      FROM est JOIN ex USING (type_a, type_b)
      ORDER BY type_a, type_b
    """.trim))

  val all: Seq[Q] = Seq(erAgreementPairs, evalErFrontier, evalRoutedEconomics,
    dedupIncrementalPrefix, dqLDiversity, dqTCloseness, evalLshCurve,
    dedupWinnowPairs, evalDimTruncation, pipelineReleaseGate, mediaKeyframes,
    sketchKmvIntersection)
}
