package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.functions._

/** Round-12 wave: multi-pass ER blocking as a first-class verified-pairs
  * product, plus the round's breadth additions.
  */
object Breadth20 {

  /** Verified pairs from the TWO-PASS capped blocking propose
    * ([[graft.ext.EntityOps.multiPassNamePairs]]) over the full
    * three-typo-class fixture — the production record-linkage propose
    * `eval_er_quality` measures. Pass 1 is the suffix key (covers the
    * prefix typo classes: deletion, transposition); pass 2 is the
    * all-but-last-char key (covers exactly the suffix-substitution
    * class pass 1 is structurally blind to — the r11 eval measured it
    * at recall 0 AND precision 0). Proposals union + distinct BEFORE
    * the levenshtein, so a pair proposed by both passes is verified
    * once; each pass keeps its own loud 64-record block cap, so total
    * kept-pair volume is bounded by the SUM of the per-pass
    * n·(cap−1)/2 bounds — linear in corpus size. The output includes
    * the corpus-forced serial-neighbor pairs (names one substitution
    * apart genuinely exist within each last-char-blind block); the
    * eval's base_pair row prices that trade explicitly.
    */
  val erMultipassPairs = Q(
    "er_multipass_pairs",
    (s, dir) =>
      // propose from the ingest-staged block index (r17): ONE
      // pass-tagged self-join + distinct + verify; the oracle replays
      // the full two-pass propose from raw records and Round17Spec
      // pins fromIndex == live
      graft.ext.EntityOps.multiPassPairsFromIndex(
          s.read.parquet(Breadth11.ensureErBlocksD3(s, dir)), maxDist = 2)
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""
      WITH ${Breadth11.erRecordsD3Ctes},
      ${Breadth11.erMultiPassCandCtes}
      SELECT id_a, id_b, na AS name_a, nb AS name_b,
             levenshtein(na, nb)::BIGINT AS dist
      FROM cand WHERE levenshtein(na, nb) <= 2
      ORDER BY id_a, id_b
    """.trim))

  /** Incremental near-dup twin — the MinHash family joins the
    * exact-dedup keep-state recipe ([[graft.ext.Dedup.minhashPairsOfBatch]]):
    * the corpus arrives as two deterministic batches (md5-hash split),
    * each batch is fingerprinted ONCE into the standing band-index
    * state, and each landing emits exactly the candidate pairs it
    * completes (delta×state + delta×delta). The ORACLE replays the
    * ONE-SHOT batch LSH pipeline over the full corpus — so the driver's
    * hash gate re-proves march == one-shot (the mergeable-state
    * theorem) on every round, the same contract `u2_merge_upsert` and
    * the CMS/k-means merges pin. The delta batch never re-shingles old
    * docs: batch 2's text is the only text read at step 2; batch 1
    * contributes band keys from its state rows alone.
    */
  val dedupIncrementalPairs = Q(
    "dedup_incremental_pairs",
    (s, dir) => {
      import graft.ext.Dedup
      val docs = Fragments.augmentedDocs(s, dir, perturb = true)
      val split = Dedup.hash32(col("doc_id").cast("string")) % 2
      val s1 = Dedup.buildBandIndex(docs.filter(split === 0), "doc_id", "text")
        .localCheckpoint()
      val s2 = Dedup.buildBandIndex(docs.filter(split =!= 0), "doc_id", "text")
        .localCheckpoint()
      val batch1 = Dedup.minhashPairsOfBatch(s1.limit(0), s1, "doc_id")
      val batch2 = Dedup.minhashPairsOfBatch(s1, s2, "doc_id")
      batch1.unionByName(batch2).distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""
      WITH ${Fragments.minhashPairsCtes}
      SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b
    """.trim))

  /** Two-level routed IVF serve over the persisted int8 index —
    * [[graft.ext.Similarity.serveQuantizedIvfTwoLevel]]: queries route
    * through a ~√c-super systematic slice of the trained centroid grid
    * (score the supers, then only the `nsuper` nearest supers' children)
    * before probing stored lists, and the flat-vs-routed gap grows as
    * √c vs c with corpus scale. This is the serving layout that keeps
    * probe cost flat when a 100 TB corpus pushes the cell count into
    * the tens of thousands; the flat-routed `ann_index_serve` stays the
    * exact-routing baseline it trades against. nsuper is 3 since round
    * 13 (VERDICT r12 item 5 — nsuper=2 measured recall@5 0.50):
    * measured at sf0.1 (333-cell grid, 11 supers), recall@5 0.56 at
    * ~101 routing cosines/query vs 0.75 at 333 cosines for the flat
    * nprobe-15 serve — the routing-approximation price of ~3× fewer
    * routing cosines, worth paying only once the cell count makes flat
    * scoring the serve bottleneck (at a few hundred cells the fused
    * kernel keeps flat routing cheap, which is why the DEFAULT tier
    * stays flat; `eval_routed_economics` prices both). The oracle
    * replays the whole chain — trained centroids, super slice,
    * per-centroid home super, 3-super query routing, nprobe child
    * selection, int8 reconstruction, spill-2 probe, rounded-cosine
    * rank — row-for-row.
    */
  val annTwoLevelServe = Q(
    "ann_two_level_serve",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val idxDir = Extensions.ensureIvfInt8Index(s, dir)
      graft.ext.Similarity.serveQuantizedIvfTwoLevel(s, s.read.parquet(idxDir),
          Fragments.annQueries(emb),
          Extensions.servingCentroids(s, dir),
          "vec_id", "embedding", "cid", "cv", k = 5,
          superMod = 29, superResidue = 7, nsuper = 3,
          nprobe = Extensions.ServingNprobe)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH ${Fragments.sqlInt8RecCtes},
      ${Fragments.sqlTrainedCentCtes},
      ${Fragments.sqlSuperCtes},
      ${Fragments.sqlQuerySupersCte},
      ${Fragments.sqlRoutedProbeCte("q_a", Extensions.ServingNprobe)},
      ${Fragments.sqlRecCorpCte(Extensions.ServingSpill)},
      ${Fragments.sqlProbePairsCte(distinct = true)}
      ${Fragments.sqlTopK("p", 5)}
    """.trim))

  /** Winnowing fingerprints per document —
    * [[graft.ext.TextOps.winnowFingerprints]] (k=4-word grams, window
    * w=4): the density-bounded (~2/(w+1) of grams) local fingerprints
    * whose coverage guarantee (any shared run ≥ w+k−1 words shares a
    * fingerprint) makes long boilerplate/plagiarized spans impossible
    * to miss, with the per-doc shared-fingerprint mass as the overlap
    * signal. The corpus here carries `xx `-prepended near-copies, so
    * every original/copy pair shares nearly all fingerprints — the
    * translation-robustness that distinguishes winnowing from the
    * global rolling hash (`text_fingerprint`, which any prepend
    * breaks).
    */
  val textWinnowFingerprint = Q(
    "text_winnow_fingerprint",
    (s, dir) =>
      graft.ext.TextOps.winnowFingerprintsFromPostings(
          s.read.parquet(ensureWinnowPostings(s, dir)), "doc_id")
        .orderBy(col("doc_id")),
    Some(s"""
      WITH ${Fragments.sqlWinnowFpCtes},
      d AS (SELECT fp, count(DISTINCT doc_id)::BIGINT AS nd FROM f GROUP BY fp)
      SELECT doc_id, count(*)::BIGINT AS n_fps,
             sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
             round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 9)
               AS shared_ratio
      FROM f JOIN d USING (fp) GROUP BY doc_id ORDER BY doc_id
    """.trim))

  private val ProbeTiers = Seq(1, 3, 5, 9, 15)

  /** Recall@5-per-nprobe curve over the persisted int8 index —
    * [[graft.ext.Similarity.probeRecallCurve]]: the probe-economics
    * readout behind every nprobe constant in the serving tier (each
    * probe tier scans a proportional corpus slice; this prices what
    * each slice buys). One scored candidate frame serves every tier:
    * pairs carry the MINIMUM probe rank that reaches them, so tier t
    * is a filter + re-rank, never a re-probe. Truth is the exact
    * full-precision top-5.
    */
  val evalProbeCurve = Q(
    "eval_probe_curve",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val idxDir = Extensions.ensureIvfInt8Index(s, dir)
      graft.ext.Similarity.probeRecallCurve(s, s.read.parquet(idxDir), emb,
          Fragments.annQueries(emb),
          Extensions.servingCentroids(s, dir),
          "vec_id", "embedding", "cid", "cv", k = 5, tiers = ProbeTiers)
        .orderBy(col("nprobe"))
    },
    Some(s"""
      WITH ${Fragments.sqlInt8IndexCtes(Extensions.ServingSpill)},
      qp AS (SELECT vec_id, embedding, cid, rn AS prank FROM (
          SELECT e.vec_id, e.embedding, t.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${Fragments.sqlCos("e.embedding", "t.cv")} DESC, t.cid) AS rn
          FROM embeddings e, cent t WHERE e.vec_id % 100 = 0)
        WHERE rn <= ${ProbeTiers.max}),
      cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      min(q.prank)::BIGINT AS minrank,
                      min(${Fragments.sqlCos("q.embedding", "c.embedding")}) AS sim
               FROM qp q JOIN corp_a c ON q.cid = c.cid AND q.vec_id <> c.vec_id
               GROUP BY q.vec_id, c.vec_id),
      ${Fragments.sqlTruthTop5Ctes},
      tiers AS (SELECT unnest([${ProbeTiers.mkString(", ")}])::BIGINT AS nprobe),
      top AS (SELECT nprobe, query_id, neighbor_id FROM (
          SELECT t.nprobe, query_id, neighbor_id,
                 row_number() OVER (PARTITION BY t.nprobe, query_id
                   ORDER BY sim DESC, neighbor_id) AS rk
          FROM cand, tiers t WHERE minrank <= t.nprobe) WHERE rk <= 5),
      hits AS (SELECT nprobe,
                 sum(CASE WHEN truth.query_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
               FROM top LEFT JOIN truth USING (query_id, neighbor_id)
               GROUP BY nprobe)
      SELECT t.nprobe,
             (SELECT count(*) FROM truth)::BIGINT AS n_truth,
             coalesce(h.n_hit, 0)::BIGINT AS n_hit,
             round(coalesce(h.n_hit, 0)::DOUBLE
                   / (SELECT count(*) FROM truth)::DOUBLE, 9) AS recall
      FROM tiers t LEFT JOIN hits h USING (nprobe) ORDER BY nprobe
    """.trim))

  /** Unrolled DuckDB twin of the seeded power iteration — the
    * [[Breadth7]] pageRankSql shape with the teleport mass confined to
    * the ASIA seed nations.
    */
  private def pprSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""${Fragments.sqlPageRankInflowCte(i)},
      r$i AS (SELECT node, round(CASE WHEN s IS NOT NULL
                     THEN (1.0::DOUBLE - 0.85::DOUBLE) / ns ELSE 0.0::DOUBLE END
                   + 0.85::DOUBLE * coalesce(inr, 0.0::DOUBLE), 12) AS rank
             FROM flagged CROSS JOIN sn LEFT JOIN c$i ON node = dst)"""
    }.mkString(",\n      ")
    s"""
      WITH ${Fragments.TradeEdgesCte},
      ${Fragments.NodesCte},
      seeds AS (SELECT n_nationkey::BIGINT AS node FROM nation
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA'),
      sin AS (SELECT seeds.node FROM seeds JOIN nodes USING (node)),
      sn AS (SELECT count(*) AS ns FROM sin),
      flagged AS (SELECT nodes.node, sin.node AS s
                  FROM nodes LEFT JOIN sin ON nodes.node = sin.node),
      outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      r0 AS (SELECT node, CASE WHEN s IS NOT NULL
                 THEN round(1.0::DOUBLE / ns, 12) ELSE 0.0::DOUBLE END AS rank
             FROM flagged CROSS JOIN sn),
      $rounds
      SELECT node, rank FROM r$iters ORDER BY node
    """.trim
  }

  /** Personalized PageRank from the ASIA seed nations over the
    * customer-nation → supplier-nation trade graph —
    * [[graft.ext.GraphOps.personalizedPageRank]], the
    * "expand from known-good sources" primitive of seed-based corpus
    * curation: the teleport mass is confined to the seed set, so the
    * output ranks every node by trade proximity to ASIA rather than by
    * global centrality (q54's stationary rank). Same edge derivation,
    * exactness discipline, and unrolled-rounds oracle as q54.
    */
  val graphPpr = Q(
    "graph_ppr",
    (s, dir) => {
      val edges = Fragments.tradeEdges(s, dir)
      val seeds = Tables(s, dir, "nation")
        .join(Tables(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("n_nationkey").cast("long").as("node"))
      graft.ext.GraphOps.personalizedPageRank(edges, seeds, iters = 5)
        .orderBy(col("node"))
    },
    Some(pprSql(5)))

  /** Silence segments over the media byte-stream —
    * [[graft.ext.Multimodal.silenceSegments]]: maximal runs of
    * consecutive sub-`maxRms` frames as (start, end, n_frames,
    * min_rms) islands, the trim-silence / dead-air primitive of audio
    * ingest. The quiet filter runs scan-side before any window, and
    * both windows partition on the media id (row-scale NDV). The
    * 98.0 threshold sits at the fixture's ~25th RMS percentile, so
    * segments are plentiful but not degenerate.
    */
  val mediaSilenceSegments = Q(
    "media_silence_segments",
    (s, dir) =>
      graft.ext.Multimodal.silenceSegments(
          Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("seg_start")),
    Some(s"""
      WITH ${Fragments.FrameEnergyCtes},
      r AS (SELECT doc_id, frame_no,
                   round(sqrt(energy::DOUBLE / n_samples), 9) AS rms
            FROM e WHERE round(sqrt(energy::DOUBLE / n_samples), 9) < 98.0),
      g AS (SELECT doc_id, frame_no, rms,
                   frame_no - row_number() OVER (PARTITION BY doc_id
                     ORDER BY frame_no) AS grp
            FROM r)
      SELECT doc_id, min(frame_no)::BIGINT AS seg_start,
             max(frame_no)::BIGINT AS seg_end,
             count(*)::BIGINT AS n_frames,
             round(min(rms), 9) AS min_rms
      FROM g GROUP BY doc_id, grp ORDER BY doc_id, seg_start
    """.trim))

  /** Build-if-absent the persisted band index over the AUGMENTED
    * perturbed corpus — the funnel's near-dup propose serves from this
    * artifact (the `ensureDedupIndex` recipe, which covers the plain
    * documents table only): at 100 TB the funnel report is re-run per
    * crawl, and re-shingling the corpus inside the report query was its
    * dominant cost (VERDICT r12 item 2 — ~half the funnel's 2.83 s
    * judge median).
    */
  def ensureAugBandIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "dedup_band_index_aug") { d =>
      graft.ext.Dedup.buildBandIndex(
        Fragments.augmentedDocs(s, dir, perturb = true), "doc_id", "text")
        .write.parquet(d)
    }

  /** Build-if-absent the persisted winnow-fingerprint postings over the
    * AUGMENTED perturbed corpus (k=4-word grams, window w=4) — the
    * shared stem of `text_winnow_fingerprint` (per-doc signal) and
    * `dedup_winnow_pairs` (pair product). The md5-per-4-gram hashing is
    * the dominant cost of BOTH queries and each re-hashed the corpus
    * live (r16 baseline: 2.03 s / 2.52 s medians); one ingest posting
    * frame serves both — the `ensureAugBandIndex` recipe. The oracles
    * still replay the full hash chain from raw text, so the driver's
    * hash gate re-proves artifact == live every round.
    */
  def ensureWinnowPostings(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "winnow_postings_aug") { d =>
      graft.ext.TextOps.winnowPostings(
        Fragments.augmentedDocs(s, dir, perturb = true), "doc_id", "text",
        k = 4, w = 4).write.parquet(d)
    }

  /** Build-if-absent the persisted distinct 3-word shingle-hash sets
    * over the AUGMENTED perturbed corpus — the containment family's
    * ingest projection ([[graft.ext.Dedup.shingleSets]]): tokenizing +
    * hashing the corpus was `dedup_containment`'s dominant cost (r16
    * baseline 2.84 s, ~all in the live hash scan), and the sets are
    * exactly what an ingest pass persists next to the band index. The
    * oracle still replays the full shingle chain from raw text.
    */
  def ensureAugShingleSets(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "shingle_sets_aug") { d =>
      graft.ext.Dedup.shingleSets(
        Fragments.augmentedDocs(s, dir, perturb = true), "doc_id", "text",
        k = 3).write.parquet(d)
    }

  /** Build-if-absent the persisted 32-bit SimHash fingerprints over the
    * AUGMENTED perturbed corpus — [[graft.ext.Dedup.simhash32]], the
    * crawl-dedup ingest fingerprint table (r17): tokenizing + hashing
    * the corpus was `dedup_simhash_pairs`' dominant cost, and the
    * fingerprint column is exactly what the ingest pass persists next
    * to the band index. The banding self-join + exact hamming verify
    * stay in the query; the oracle replays the full simhash chain from
    * raw text.
    */
  def ensureAugSimhash(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "simhash_aug") { d =>
      graft.ext.Dedup.simhash32(
        Fragments.augmentedDocs(s, dir, perturb = true), "doc_id", "text")
        .write.parquet(d)
    }

  /** Build-if-absent the persisted AUG-corpus cluster assignment — the
    * ingest dedup pass's output table (min-id cluster label per doc),
    * computed ONCE from the staged band index by the O(log n) star
    * algorithm; downstream consumers (canonical selection) read it
    * like any other silver-layer scalar. The live CC algorithms stay
    * priced by dedup_clusters / dedup_clusters_star.
    */
  def ensureAugClusters(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val idx = ensureAugBandIndex(s, dir)
    graft.etl.LayoutOps.ensureRunDir(s, dir, "dedup_clusters_aug") { d =>
      graft.ext.Dedup.clusterAssignmentStar(
        Fragments.augmentedDocs(s, dir, perturb = true).select(col("doc_id")),
        graft.ext.Dedup.indexCandidatePairs(s.read.parquet(idx), "doc_id"),
        "doc_id").write.parquet(d)
    }
  }

  /** Build-if-absent the per-document STATS artifact over the augmented
    * perturbed corpus — doc_id, the per-lang Gopher keep flag, the
    * normalized-content md5, n_words, and both quality scores (English
    * list + per-lang). The other half of the funnel's ingest layout
    * (VERDICT r13 items 6-7): with the band index covering the
    * near-dup propose, these per-doc scalars were the funnel's and
    * canonical-quality's remaining reason to re-scan corpus text per
    * query. At 100 TB this is the silver-layer table a curation
    * pipeline materializes once per crawl; every downstream gate reads
    * ids + scalars, never text.
    */
  def ensureDocStats(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "doc_stats_aug") { d =>
      import graft.ext.{Dedup, TextOps}
      val docs = Fragments.augmentedDocs(s, dir, perturb = true)
      val keep = TextOps.gopherRulesByLang(docs, "doc_id", "text", "lang")
        .select(col("doc_id"), col("keep").as("gopher_keep"))
      val qual = TextOps.withQuality(docs, "text")
        .select(col("doc_id"),
          md5(Dedup.normText(col("text"))).as("content_md5"),
          col("n_words"), col("quality").as("quality_en"))
      val qlang = TextOps.withQualityByLang(docs, "text", "lang")
        .select(col("doc_id"), col("quality").as("quality_lang"))
      qual.join(keep, "doc_id").join(qlang, "doc_id").write.parquet(d)
    }

  /** The curation FUNNEL report — per-stage survivor counts with drop
    * rates through the production cleaning order (raw → per-lang Gopher
    * gate → exact dedup → near-dup canonical → quality gate): the
    * table every corpus paper publishes and every pipeline owner
    * watches between crawls (a stage whose drop rate jumps is the
    * first sign of an upstream regression). Each stage IS an
    * already-oracled operator; the near-dup stage probes the PERSISTED
    * band index ([[ensureAugBandIndex]] —
    * [[graft.ext.Dedup.indexCandidatePairs]], no text re-shingle) and
    * restricts the full-corpus candidate pairs to
    * both-endpoints-surviving — exactly equal to re-proposing among
    * survivors, because band keys are per-doc (signatures don't depend
    * on the corpus) — then keeps each restricted component's minimum.
    * Counts are one aggregate per stage over checkpointed survivor
    * frames; the 5-row lag window is metadata-scale.
    */
  /** The funnel body over an explicit (docs, full-corpus candidate
    * pairs) input — factored from the query so specs can drive a
    * hand-solved fixture through all five stages. `rawPairs` is the
    * UNRESTRICTED candidate-pair frame (the s3 survivor restriction
    * happens inside, stage order matters).
    */
  private[graft] def curationFunnel(docs0: org.apache.spark.sql.DataFrame,
      rawPairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.ext.{Dedup, TextOps}
    // the spec-fixture path: derive the per-doc stats inline (same
    // expressions [[ensureDocStats]] persists), then run the
    // stats-driven body the production query serves from parquet
    val keep = TextOps.gopherRulesByLang(docs0, "doc_id", "text", "lang")
      .select(col("doc_id"), col("keep").as("gopher_keep"))
    val qual = TextOps.withQuality(docs0, "text")
      .select(col("doc_id"),
        md5(Dedup.normText(col("text"))).as("content_md5"),
        col("n_words"), col("quality").as("quality_en"))
    curationFunnelFromStats(qual.join(keep, "doc_id"), rawPairs)
  }

  /** The funnel body over the per-doc STATS frame ([[ensureDocStats]]
    * columns; `quality_lang` unused) — zero corpus text scans: the
    * gates read persisted scalars, the near-dup stage reads the
    * persisted band index's candidate pairs. Every inter-stage frame
    * is IDS ONLY (the r13 funnel's remaining cost was the gopher and
    * quality gates each re-scanning corpus text — VERDICT r13 item 6;
    * both gates are now flag/score filters on the stats artifact).
    */
  private[graft] def curationFunnelFromStats(
      stats0: org.apache.spark.sql.DataFrame,
      rawPairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.ext.Dedup
    import org.apache.spark.sql.expressions.Window
    val stats = stats0.localCheckpoint()
    val s2 = stats.filter(col("gopher_keep") === 1).select(col("doc_id"))
      .localCheckpoint()
    // min doc_id per content hash is itself a stage-2 survivor, so the
    // group-by output needs no semi-join back
    val s3 = stats.join(s2, Seq("doc_id"), "left_semi")
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .localCheckpoint()
    val pairs = rawPairs
      .join(s3.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(s3.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    val s4 = Dedup.clusterAssignment(s3, pairs, "doc_id")
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"))
      .localCheckpoint()
    val s5 = stats.join(s4, Seq("doc_id"), "left_semi")
      .filter(col("quality_en") >= 0.5 && col("n_words") >= 10)
      .select(col("doc_id"))
    val stages = Seq[(Long, String, org.apache.spark.sql.DataFrame)](
      (1L, "raw", stats), (2L, "gopher_gate", s2), (3L, "exact_dedup", s3),
      (4L, "near_dup_canonical", s4), (5L, "quality_gate", s5))
    stages.map { case (i, nm, df) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i).as("stage_no"), lit(nm).as("stage"), col("n_docs"))
    }.reduce(_ unionByName _)
      .withColumn("__prev",
        lag(col("n_docs"), 1).over(Window.orderBy(col("stage_no"))))
      .withColumn("n_dropped", col("__prev") - col("n_docs"))
      .withColumn("drop_rate", round(
        (col("__prev") - col("n_docs")).cast("double") /
          col("__prev").cast("double"), 9))
      .drop("__prev")
      .orderBy(col("stage_no"))
  }

  val pipelineCurationFunnel = Q(
    "pipeline_curation_funnel",
    (s, dir) =>
      curationFunnelFromStats(
        s.read.parquet(ensureDocStats(s, dir)),
        graft.ext.Dedup.indexCandidatePairs(
          s.read.parquet(ensureAugBandIndex(s, dir)), "doc_id")),
    Some(s"""
      WITH RECURSIVE ${Fragments.minhashPairsCtes},
      gn AS (SELECT doc_id, lang, text, ${Fragments.NormW} AS w,
               len(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS nc
             FROM aug),
      gb AS (SELECT doc_id, text, len(w)::BIGINT AS n_words,
               (nc - (len(w) - 1))::BIGINT AS n_word_chars,
               ${Fragments.sqlStopDistinctByLang()} AS n_stop
             FROM gn),
      s2 AS (SELECT doc_id, text FROM gb
             WHERE n_words >= 30 AND n_words <= 100000
               AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
               AND n_stop >= 2),
      s3 AS (SELECT min(doc_id) AS doc_id FROM s2
             GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
      edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                WHERE doc_a IN (SELECT doc_id FROM s3)
                  AND doc_b IN (SELECT doc_id FROM s3)
                UNION SELECT doc_b, doc_a FROM pairs
                WHERE doc_a IN (SELECT doc_id FROM s3)
                  AND doc_b IN (SELECT doc_id FROM s3)),
      ${Fragments.sqlReachCompCtes()},
      s4 AS (SELECT s3.doc_id FROM s3 LEFT JOIN comp USING (doc_id)
             WHERE coalesce(least(mn, doc_id), doc_id) = doc_id),
      qn AS (SELECT doc_id, text, ${Fragments.NormW} AS w FROM aug),
      qm AS (SELECT doc_id,
               len(w)::BIGINT AS n_words,
               ${Fragments.AvgWordLen},
               ${Fragments.PunctRatio},
               ${Fragments.sqlStopRatio(Fragments.sqlHits(graft.ext.TextOps.StopEn))}
             FROM qn),
      qs AS (SELECT doc_id, n_words,
               ${Fragments.QualityScore} AS quality
             FROM qm),
      s5 AS (SELECT s4.doc_id FROM s4 JOIN qs USING (doc_id)
             WHERE quality >= 0.5 AND n_words >= 10),
      c AS (SELECT 1::BIGINT AS stage_no, 'raw' AS stage,
                   (SELECT count(*) FROM aug)::BIGINT AS n_docs
            UNION ALL SELECT 2, 'gopher_gate', (SELECT count(*) FROM s2)
            UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM s3)
            UNION ALL SELECT 4, 'near_dup_canonical', (SELECT count(*) FROM s4)
            UNION ALL SELECT 5, 'quality_gate', (SELECT count(*) FROM s5))
      SELECT stage_no, stage, n_docs,
             (lag(n_docs) OVER (ORDER BY stage_no) - n_docs)::BIGINT AS n_dropped,
             round((lag(n_docs) OVER (ORDER BY stage_no) - n_docs)::DOUBLE
                   / lag(n_docs) OVER (ORDER BY stage_no), 9) AS drop_rate
      FROM c ORDER BY stage_no
    """.trim))

  /** k-anonymity audit over quasi-identifiers — the governance gate a
    * training-data release runs before shipping records containing
    * person-adjacent attributes: every (nation, market-segment,
    * account-balance-band) equivalence class smaller than k is a
    * re-identification risk (its members are distinguishable by the
    * quasi-identifiers alone), reported with its size and the
    * generalization hint (which single attribute, when dropped, lifts
    * the class above k — the FIRST RUNG of a generalization ladder
    * only: a full ladder also weighs multi-attribute generalizations
    * and value coarsening, which this audit deliberately does not
    * attempt — the hint answers "is there a one-move fix", nothing
    * more). One aggregate over the quasi-id key plus three
    * broadcast-size rollup joins; no row-level data leaves the scan.
    */
  /** The audit body over an explicit quasi-identifier frame
    * (nation, segment, bal_band) — factored from the query so specs
    * can drive a hand fixture where each fix_hint branch fires.
    */
  private[graft] def kAnonymityAudit(q0: org.apache.spark.sql.DataFrame,
      k: Long): org.apache.spark.sql.DataFrame = {
    val q = q0.localCheckpoint()
    val classes = q.groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("class_size"))
    def rollup(drop: String): org.apache.spark.sql.DataFrame = {
      val keep = Seq("nation", "segment", "bal_band").filterNot(_ == drop)
      q.groupBy(keep.map(col): _*).agg(count(lit(1)).as(s"__n_$drop"))
    }
    classes.filter(col("class_size") < k)
      .join(rollup("nation"), Seq("segment", "bal_band"))
      .join(rollup("segment"), Seq("nation", "bal_band"))
      .join(rollup("bal_band"), Seq("nation", "segment"))
      .withColumn("fix_hint",
        when(col("__n_bal_band") >= k, "drop_bal_band")
          .when(col("__n_segment") >= k, "drop_segment")
          .when(col("__n_nation") >= k, "drop_nation")
          .otherwise("suppress"))
      .select(col("nation"), col("segment"), col("bal_band"),
        col("class_size"), col("fix_hint"))
      .orderBy(col("nation"), col("segment"), col("bal_band"))
  }

  /** The customer quasi-identifier projection dq13/dq14 audit. */
  private[graft] def customerQuasiIds(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))

  val dqKAnonymity = Q(
    "dq13_k_anonymity",
    (s, dir) => kAnonymityAudit(customerQuasiIds(s, dir), k = 5L),
    Some("""
      WITH q AS (SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS segment,
                        floor(c_acctbal / 1000.0)::BIGINT AS bal_band
                 FROM customer),
      cls AS (SELECT nation, segment, bal_band, count(*)::BIGINT AS class_size
              FROM q GROUP BY 1, 2, 3),
      rn AS (SELECT segment, bal_band, count(*)::BIGINT AS n FROM q GROUP BY 1, 2),
      rs AS (SELECT nation, bal_band, count(*)::BIGINT AS n FROM q GROUP BY 1, 2),
      rb AS (SELECT nation, segment, count(*)::BIGINT AS n FROM q GROUP BY 1, 2)
      SELECT cls.nation, cls.segment, cls.bal_band, cls.class_size,
             CASE WHEN rb.n >= 5 THEN 'drop_bal_band'
                  WHEN rs.n >= 5 THEN 'drop_segment'
                  WHEN rn.n >= 5 THEN 'drop_nation'
                  ELSE 'suppress' END AS fix_hint
      FROM cls
      JOIN rn ON rn.segment = cls.segment AND rn.bal_band = cls.bal_band
      JOIN rs ON rs.nation = cls.nation AND rs.bal_band = cls.bal_band
      JOIN rb ON rb.nation = cls.nation AND rb.segment = cls.segment
      WHERE cls.class_size < 5
      ORDER BY cls.nation, cls.segment, cls.bal_band
    """.trim))

  val all: Seq[Q] = Seq(erMultipassPairs, dedupIncrementalPairs,
    annTwoLevelServe, textWinnowFingerprint, evalProbeCurve, graphPpr,
    mediaSilenceSegments, pipelineCurationFunnel, dqKAnonymity)
}
