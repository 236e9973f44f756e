package graft.queries

import graft.etl.Tables
import graft.ext.{Dedup, SketchOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Registry fragments that two or more queries share, each defined once:
  * DuckDB oracle CTEs and expressions, and the Spark frames they mirror.
  * Where both engines sample the same rows (the ANN query panel and
  * centroid sample, the trade-graph edges, the lineitem head), the Spark
  * frame and its SQL twin sit side by side so the two cannot drift.
  *
  * Every fragment is a `def`, or a `val` holding a literal that reads no
  * other object: a `val` that interpolates another object's `val` renders
  * `null` or `0` into the SQL when that object has not finished
  * initialising. Fragments take as parameters only what their callers
  * vary (a filter, a CTE name, a probe width); serving constants are
  * passed in by the caller, never read here.
  */
object Fragments {

  // ---- text ----------------------------------------------------------------

  /** DuckDB mirror of Dedup.normText + word split. */
  val NormW = raw"string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')"

  private def sqlList(xs: Seq[String]): String = xs.mkString("['", "', '", "']")

  /** Stop-word hit count over the word list `w`. */
  def sqlHits(stops: Seq[String]): String =
    s"len(list_filter(w, x -> list_contains(${sqlList(stops)}, x)))::BIGINT"

  /** Per-language stop-hit count — the DuckDB twin of the broadcast
    * lookup in `TextOps.withQualityByLang`: a CASE over
    * `TextOps.StopByLang` (generated, so adding a language updates
    * both engines from one list), English fallback for unlisted langs.
    */
  def sqlHitsByLang(langExpr: String = "lang"): String =
    s"CASE $langExpr " +
      TextOps.StopByLang.map { case (l, st) =>
        s"WHEN '$l' THEN ${sqlHits(st)}" }.mkString(" ") +
      s" ELSE ${sqlHits(TextOps.StopEn)} END"

  /** DISTINCT stop words present in `w` (the Gopher stop rule's statistic). */
  def sqlStopDistinct(stops: Seq[String]): String =
    s"len(list_filter(${sqlList(stops)}, s -> list_contains(w, s)))::BIGINT"

  /** Per-language DISTINCT stop-word count — same generated CASE as
    * [[sqlHitsByLang]], distinct semantics.
    */
  def sqlStopDistinctByLang(langExpr: String = "lang"): String =
    s"CASE $langExpr " +
      TextOps.StopByLang.map { case (l, st) =>
        s"WHEN '$l' THEN ${sqlStopDistinct(st)}" }.mkString(" ") +
      s" ELSE ${sqlStopDistinct(TextOps.StopEn)} END"

  /** The quality features of `TextOps.withQuality` over (text, w). */
  val PunctRatio =
    "length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE / length(text) AS punct_ratio"
  val AvgWordLen =
    "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / len(w) AS avg_word_len"
  def sqlStopRatio(hits: String): String = s"$hits::DOUBLE / len(w) AS stop_ratio"

  /** punct_ratio, avg_word_len, stop_ratio — in that order. */
  def sqlQualityFeatures(hits: String): String =
    s"""$PunctRatio,
              $AvgWordLen,
              ${sqlStopRatio(hits)}"""

  /** The heuristic quality score over the three features (alias left
    * to the caller).
    */
  val QualityScore =
    """round(least(avg_word_len / 8.0, 1.0) * 0.4
                    + least(stop_ratio * 5.0, 1.0) * 0.4
                    + (1.0 - punct_ratio) * 0.2, 9)"""

  /** The fixed-weight logit of `TextOps.withModelQuality` over the
    * features plus n_words (alias left to the caller).
    */
  val ModelLogit =
    """2.0 * least(stop_ratio * 5.0, 1.0)
                  + 1.5 * least(avg_word_len / 8.0, 1.0)
                  - 3.0 * punct_ratio
                  + 0.5 * least(n_words / 200.0, 1.0)
                  - 1.2"""

  /** `n` (words) → `m` (features + n_words) → `l` (the fixed-weight
    * logit of `TextOps.withModelQuality`), keyed by doc_id.
    */
  def sqlModelLogitCtes: String =
    s"""n AS (SELECT doc_id, text, $NormW AS w FROM documents),
      m AS (SELECT doc_id,
              len(w)::BIGINT AS n_words,
              ${sqlQualityFeatures(sqlHits(TextOps.StopEn))}
            FROM n),
      l AS (SELECT doc_id,
              $ModelLogit AS logit
            FROM m)"""

  /** Gopher keep label `t` per doc (the `TextOps.gopherRules` verdict):
    * g0 → g1 (word / word-char / distinct-stop counts) → truth.
    */
  def sqlGopherTruthCtes: String =
    s"""g0 AS (SELECT doc_id, $NormW AS w,
               len(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS nc
             FROM documents),
      g1 AS (SELECT doc_id, len(w)::BIGINT AS n_words,
               (nc - (len(w) - 1))::BIGINT AS n_word_chars,
               ${sqlStopDistinct(TextOps.StopEn)} AS n_stop_distinct
             FROM g0),
      truth AS (SELECT doc_id,
                  (CASE WHEN n_words >= 30 AND n_words <= 100000 THEN 1 ELSE 0 END) *
                  (CASE WHEN n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words THEN 1 ELSE 0 END) *
                  (CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END) AS t
                FROM g1)"""

  /** The PII fixture corpus: id-derived email / phone / IP spans appended
    * for doc_id % 7 / % 11 / % 13 (the SQL twin of `piiScrubFrame`'s
    * dirty frame).
    */
  val PiiDirtyDocs =
    """SELECT doc_id, text ||
          (CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || doc_id || '@example.com' ELSE '' END) ||
          (CASE WHEN doc_id % 11 = 0
                THEN ' call 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
                     || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END) ||
          (CASE WHEN doc_id % 13 = 0
                THEN ' host 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                ELSE '' END) AS text
        FROM documents"""

  /** BM25 corpus statistics over `source`: norm → t (terms) → dl (doc
    * length) → stats (n_docs, sum_dl).
    */
  def sqlBm25BaseCtes(source: String = "documents"): String =
    s"""norm AS (SELECT doc_id, $NormW AS w FROM $source),
      t AS (SELECT doc_id, unnest(w) AS term FROM norm),
      dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl)"""

  /** The per-term BM25 score (k1 = 1.2, b = 0.75): identical IEEE
    * expression text in both engines (1.2/2.2 parse to the same binary
    * doubles; 0.75/0.25 are exact).
    */
  val Bm25Formula =
    """ln(1.0::DOUBLE + (n_docs - df_docs + 0.5::DOUBLE) / (df_docs + 0.5::DOUBLE)) *
       ((tf * 2.2::DOUBLE) /
        (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE *
          (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))"""

  /** Multi-query BM25 over a `qt(query_id, term)` CTE: tf → dfq → sc →
    * agg (query_id, doc_id, score), per-term round 9, exact DECIMAL fold.
    */
  def sqlBm25QueryScoreCtes: String =
    s"""tf AS (SELECT doc_id, term, count(*) AS tf FROM t
             WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
      dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
      sc AS (SELECT qt.query_id, tf.doc_id,
               round($Bm25Formula, 9) AS score_t
             FROM tf JOIN qt USING (term) JOIN dfq USING (term)
             JOIN dl USING (doc_id) CROSS JOIN stats),
      agg AS (SELECT query_id, doc_id,
                     CAST(sum(CAST(score_t AS DECIMAL(27,9))) AS DOUBLE) AS score
              FROM sc GROUP BY query_id, doc_id)"""

  /** Count-min cell of `word` in row `r.row` (3 × 64 grid). */
  val CmsBucket =
    "('0x' || substr(md5('cms' || r.row::VARCHAR || '|' || word), 1, 8))::BIGINT % 64"

  /** The count-min point estimates (3 × 64) of the `top` words against
    * `cells`, beside their exact counts; the Spark twin of
    * [[sqlCmsEstimate]].
    */
  def cmsEstimate(cells: DataFrame, top: DataFrame): DataFrame =
    SketchOps.cmsEstimate(cells, top, "word", depth = 3, width = 64)
      .join(top, "word")
      .select(col("word"), col("exact_cnt"), col("cms_est"))
      .orderBy(col("exact_cnt").desc, col("word"))

  /** Point estimates for the `top` words against the `cells` grid, and
    * the final (word, exact_cnt, cms_est) rows.
    */
  def sqlCmsEstimate: String =
    s"""probes AS (SELECT word, r.row,
                   $CmsBucket AS bucket
                 FROM top, rows3 r),
      est AS (SELECT word, min(cell) AS cms_est
              FROM probes JOIN cells USING (row, bucket) GROUP BY word)
      SELECT t.word, t.exact_cnt, e.cms_est
      FROM top t JOIN est e USING (word)
      ORDER BY exact_cnt DESC, word"""

  /** Windowed media energy (64-byte frames): f → c (chunk) → e
    * (n_samples, integer sum of squares) — the twin of
    * `Multimodal.frameEnergy`.
    */
  val FrameEnergyCtes =
    """f AS (SELECT doc_id, text,
                        unnest(range((length(text) + 63) // 64)) AS frame_no
                 FROM documents WHERE length(text) > 0),
      c AS (SELECT doc_id, frame_no,
                   substring(text, (frame_no * 64 + 1)::INT, 64) AS chunk
            FROM f),
      e AS (SELECT doc_id, frame_no, length(chunk)::BIGINT AS n_samples,
                   list_sum(list_transform(range(1, length(chunk) + 1),
                     p -> ord(substring(chunk, p::INT, 1)) *
                          ord(substring(chunk, p::INT, 1))))::BIGINT AS energy
            FROM c)"""

  /** Frame RMS → scene cuts (`Multimodal.sceneChanges`, threshold 12.0):
    * ends at `s(doc_id, frame_no, rms, cut)`.
    */
  def sqlSceneCutCtes: String =
    s"""$FrameEnergyCtes,
      r AS (SELECT doc_id, frame_no,
                   round(sqrt(energy::DOUBLE / n_samples), 9) AS rms
            FROM e),
      d AS (SELECT doc_id, frame_no, rms,
                   lag(rms) OVER (PARTITION BY doc_id ORDER BY frame_no) AS prev
            FROM r),
      s AS (SELECT doc_id, frame_no, rms,
                   CASE WHEN prev IS NULL OR abs(rms - prev) > 12.0
                        THEN 1 ELSE 0 END AS cut
            FROM d)"""

  /** Distributed prefix-sum packing of `src(doc_id, n_tokens)` into
    * 512-token windows (`TextOps.packWindowsByCount`).
    */
  def sqlPackWindows(src: String): String =
    s"""srt AS (SELECT doc_id, n_tokens,
                (sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS start_pos
              FROM $src)
      SELECT doc_id, n_tokens, start_pos,
             (start_pos // 512)::BIGINT AS first_window,
             ((start_pos + n_tokens - 1) // 512)::BIGINT AS last_window
      FROM srt ORDER BY doc_id"""

  /** Winnowing fingerprints (k = 4-word grams, window 4) over the
    * perturbed augmented corpus, ending at `f(doc_id, fp)`.
    */
  def sqlWinnowFpCtes: String =
    s"""${augCte(perturb = true)},
      n AS (SELECT doc_id, $NormW AS w FROM aug),
      g AS (SELECT doc_id, list_transform(range(len(w) - 3),
              i -> ('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15))::BIGINT) AS hs
            FROM n WHERE len(w) >= 7),
      f AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(hs) - 3),
              i -> list_min(hs[i+1:i+4])))) AS fp
            FROM g)"""

  /** Systematic PPS weights: per-doc weight (n_chars) with its running
    * and total sums.
    */
  val PpsWeightsCte =
    """w AS (SELECT doc_id, n_chars::BIGINT AS weight,
                        sum(n_chars::BIGINT) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cend,
                        sum(n_chars::BIGINT) OVER () AS total
                 FROM documents)"""

  /** The synthetic benchmark leak: every 97th document is the benchmark,
    * the corpus is every document's `xx `-prefixed copy at +100000.
    * Returns (corpus, bench).
    */
  def decontaminationSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 97 === 0)
    val corpus = d.select((col("doc_id") + 100000L).as("doc_id"),
      concat(lit("xx "), col("text")).as("text"))
    (corpus, bench)
  }

  /** Exact 8-gram contamination pairs (≥ 10 shared distinct 8-grams)
    * over [[decontaminationSides]].
    */
  def decontaminateOracle: String = s"""
      WITH norm AS (SELECT doc_id, $NormW AS w FROM documents),
      bench AS (SELECT doc_id AS bench_id,
                  list_distinct(list_transform(range(len(w) - 7),
                    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] ||
                         ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8])) AS s
                FROM norm WHERE len(w) >= 8 AND doc_id % 97 = 0),
      corpn AS (SELECT doc_id + 100000 AS doc_id,
                  string_split(regexp_replace(trim(lower('xx ' || text)), '\\s+', ' ', 'g'), ' ') AS w
                FROM documents),
      corp AS (SELECT doc_id,
                 list_distinct(list_transform(range(len(w) - 7),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] ||
                        ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8])) AS s
               FROM corpn WHERE len(w) >= 8),
      p AS (SELECT c.doc_id, b.bench_id,
              len(list_filter(c.s, x -> list_contains(b.s, x)))::BIGINT AS n_shared
            FROM corp c CROSS JOIN bench b)
      SELECT doc_id, bench_id, n_shared FROM p
      WHERE n_shared >= 10 ORDER BY doc_id, bench_id
    """.trim

  // ---- dedup ---------------------------------------------------------------

  /** The dedup test corpus: each doc unioned with a copy at doc_id+100000
    * (identical, or one word prepended when `perturb`).
    */
  def augmentedDocs(s: SparkSession, dir: String, perturb: Boolean): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
    val copies = d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", if (perturb) concat(lit("xx "), col("text")) else col("text"))
    d.unionByName(copies)
  }

  /** DuckDB twin of [[augmentedDocs]]. */
  def augCte(perturb: Boolean): String = {
    val t = if (perturb) "'xx ' || text" else "text"
    s"""aug AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 100000, $t, lang FROM documents)"""
  }

  /** norm → shingles → hashes → MinHash signature over a source CTE
    * exposing (doc_id, text), ending at `sig(doc_id, sig)`.
    */
  def minhashSigCtes(src: String): String = {
    val sigs = Dedup.SeedsA.zip(Dedup.SeedsB).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * h + $b) % ${Dedup.HashPrime}))"
    }.mkString(",\n               ")
    s"""norm AS (SELECT doc_id, $NormW AS w FROM $src),
      sh AS (SELECT doc_id, w FROM norm WHERE len(w) >= 3),
      hs AS (SELECT doc_id,
               list_transform(range(len(w) - 2),
                 i -> ('0x' || substr(md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 8))::BIGINT) AS hs
             FROM sh),
      sig AS (SELECT doc_id, [$sigs] AS sig FROM hs)"""
  }

  /** The minhash chain (norm → shingles → hashes → signature → bands →
    * `pairs`) over an arbitrary source CTE exposing (doc_id, text) —
    * reproduces Dedup.minhashCandidatePairs, and lets composite oracles
    * (the dedup cascade) run the SAME chain over a filtered survivor set.
    */
  def minhashChainFrom(src: String): String = {
    val bands = (0 until 4).map { j =>
      s"'$j:' || sig[${2 * j + 1}]::VARCHAR || '_' || sig[${2 * j + 2}]::VARCHAR"
    }.mkString(",\n               ")
    s"""${minhashSigCtes(src)},
      bands AS (SELECT doc_id, unnest([$bands]) AS band FROM sig),
      pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)"""
  }

  /** The minhash chain over the perturbed augmented corpus; ends with a
    * `pairs` CTE (doc_a < doc_b, distinct).
    */
  def minhashPairsCtes: String =
    s"""${augCte(perturb = true)},
      ${minhashChainFrom("aug")}"""

  /** [[minhashPairsCtes]] plus connected components over `pairs` (for a
    * `WITH RECURSIVE`).
    */
  def minhashComponentCtes: String =
    s"""$minhashPairsCtes,
      ${sqlComponentCtes("pairs")}"""

  /** [[minhashComponentCtes]] plus `cl(doc_id, cluster_id)`: every aug
    * doc's component min id (isolated docs label themselves).
    */
  def minhashClusterCtes: String =
    s"""$minhashComponentCtes,
      cl AS (SELECT a.doc_id, coalesce(least(c.mn, a.doc_id), a.doc_id) AS cluster_id
             FROM aug a LEFT JOIN comp c USING (doc_id))"""

  /** Per-doc cluster id (min doc id of its component) over `aug`, given
    * CTEs that end in `comp`.
    */
  def sqlAugClusterIds(ctes: String): String = s"""
      WITH RECURSIVE $ctes
      SELECT a.doc_id, coalesce(least(c.mn, a.doc_id), a.doc_id) AS cluster_id
      FROM aug a LEFT JOIN comp c USING (doc_id)
      ORDER BY doc_id
    """.trim

  // ---- ANN -----------------------------------------------------------------

  /** DuckDB cosine over list columns — sequential left-fold sums, same
    * op order as the codegen'd CosineSimilarity kernel, rounded to 9dp
    * in both engines.
    */
  def sqlCos(a: String, b: String): String =
    s"""round(
       list_sum(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE)) /
       (sqrt(list_sum(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $a[i+1]::DOUBLE))) *
        sqrt(list_sum(list_transform(range(len($b)), i -> $b[i+1]::DOUBLE * $b[i+1]::DOUBLE)))), 9)"""

  /** The fixed 1 % query panel every ANN query and eval ranks. Its SQL
    * twin is the `vec_id % 100 = 0` filter in the CTEs below.
    */
  def annQueries(emb: DataFrame): DataFrame = emb.filter(col("vec_id") % 100 === 0)

  /** The sampled (untrained) IVF coarse quantizer: every 37th vector
    * under id 5000, and its SQL twin.
    */
  def annSampledCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 5000)
  val SampledCentCte =
    """cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                    WHERE vec_id % 37 = 0 AND vec_id < 5000)"""

  /** PQ codebook training rows: every 5th vector under id 5000 (a
    * scale-fixed model input). The SQL twin is the `cb0` filter of
    * [[pqRecCtes]].
    */
  def pqCodebookRows(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 5 === 0 && col("vec_id") < 5000)

  /** DuckDB twin of the trained serving quantizer: the seed CTE plus
    * two unrolled Lloyd rounds (assign → exact-decimal element mean),
    * ending in `cent(cid, cv)` — the same name the serving oracles
    * always consumed, so the training chain drops in front of any of
    * them. Each round is the proven ann_kmeans_iter recipe (sim at
    * 9 dp, ties to the smaller cid, elements rounded to 9 dp and summed
    * as DECIMAL(27,9) before one double division).
    */
  def sqlTrainedCentCtes: String = {
    def assign(centCte: String, tag: String) = s"""
      tca$tag AS (SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${sqlCos("e.embedding", "c.cv")} DESC, c.cid) AS rn
          FROM embeddings e, $centCte c) WHERE rn = 1),
      tcm$tag AS (SELECT cid, dim,
                    CAST(sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS DOUBLE) / count(*) AS v
                  FROM (SELECT cid, unnest(embedding)::DOUBLE AS x,
                               unnest(range(len(embedding))) AS dim FROM tca$tag)
                  GROUP BY cid, dim)"""
    s"""tcseed AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                   WHERE vec_id % 6 = 3 AND vec_id < 5000),
      ${assign("tcseed", "1")},
      tcc1 AS (SELECT cid, list(v ORDER BY dim) AS cv FROM tcm1 GROUP BY cid),
      ${assign("tcc1", "2")},
      cent AS (SELECT cid, list(v ORDER BY dim) AS cv FROM tcm2 GROUP BY cid)"""
  }

  /** Shared DuckDB CTE chain for PQ encode + reconstruct (the oracle
    * twin of `pqTrain`/`pqEncode`/`pqReconstruct` at m=8, codebook =
    * every 5th vector in id order, dense codes): `rec` is the
    * reconstructed corpus as (vec_id, embedding).
    */
  def pqRecCtes(src: String = "embeddings"): String = s"""
      cb0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
                   FROM $src WHERE vec_id % 5 = 0 AND vec_id < 5000),
      sp AS (SELECT unnest(range(8)) AS sub),
      cb AS (SELECT b.code, s.sub,
                    list_transform(range(8), i -> b.embedding[s.sub*8 + i + 1]::DOUBLE) AS cw
             FROM cb0 b, sp s),
      d AS (SELECT e.vec_id, c.sub, c.code,
              round(list_sum(list_transform(range(8),
                i -> (e.embedding[c.sub*8 + i + 1]::DOUBLE - c.cw[i+1]) *
                     (e.embedding[c.sub*8 + i + 1]::DOUBLE - c.cw[i+1]))), 9) AS dist
            FROM $src e, cb c),
      enc AS (SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code,
                       row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
                FROM d) WHERE rn = 1),
      rec AS (SELECT e.vec_id, flatten(list(c.cw ORDER BY e.sub)) AS embedding
              FROM enc e JOIN cb c ON c.sub = e.sub AND c.code = e.code
              GROUP BY e.vec_id)"""

  /** k-means seed centroids: every 250th vector under id 5000, and the
    * SQL twin.
    */
  def kmeansSeeds(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 250 === 0 && col("vec_id") < 5000)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
  val KmeansSeedCte =
    "cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 250 = 0 AND vec_id < 5000)"

  /** int8 scalar quantization (`Similarity.quantizeInt8`): per-vector
    * max |x|, and the codes floor(x/s + 0.5) with s = amax / 127.
    */
  val Int8Amax = "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax"
  val Int8Codes =
    """CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(embedding,
                           x -> CAST(floor(x::DOUBLE / (amax / 127.0) + 0.5) AS INT))
               END AS codes"""

  /** The int8-reconstructed corpus: qn → cq → `rec(vec_id, embedding)`. */
  def sqlInt8RecCtes: String =
    s"""qn AS (SELECT vec_id, embedding,
                    $Int8Amax
                  FROM embeddings),
      cq AS (SELECT vec_id, round(amax / 127.0, 9) AS s,
               $Int8Codes
             FROM qn),
      rec AS (SELECT vec_id, list_transform(range(len(codes)), i -> codes[i+1] * s) AS embedding
              FROM cq)"""

  /** The int8-reconstructed corpus `rec` in its `spill` nearest lists. */
  def sqlRecCorpCte(spill: Int): String =
    s"""corp_a AS (SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, t.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${sqlCos("e.embedding", "t.cv")} DESC, t.cid) AS rn
          FROM rec e, cent t) WHERE rn <= $spill)"""

  /** The persisted int8 serving index as the oracle rebuilds it: the
    * reconstructed corpus, the trained centroids, and `corp_a` at `spill`.
    */
  def sqlInt8IndexCtes(spill: Int): String =
    s"""$sqlInt8RecCtes,
      $sqlTrainedCentCtes,
      ${sqlRecCorpCte(spill)}"""

  /** Two-level routing (`Similarity.serveQuantizedIvfTwoLevel`): the
    * super centroids `sup` (cid % 29 = 7) and each centroid's home
    * super `c2s`.
    */
  def sqlSuperCtes: String =
    s"""sup AS (SELECT cid, cv FROM cent WHERE cid % 29 = 7),
      c2s AS (SELECT cid, cv, super FROM (
          SELECT c.cid, c.cv, s.cid AS super,
                 row_number() OVER (PARTITION BY c.cid
                   ORDER BY ${sqlCos("c.cv", "s.cv")} DESC, s.cid) AS rn
          FROM cent c, sup s) WHERE rn = 1)"""

  /** The query panel's 3 nearest supers. */
  def sqlQuerySupersCte: String =
    s"""q2s AS (SELECT vec_id, embedding, super FROM (
          SELECT e.vec_id, e.embedding, s.cid AS super,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${sqlCos("e.embedding", "s.cv")} DESC, s.cid) AS rn
          FROM embeddings e, sup s WHERE e.vec_id % 100 = 0) WHERE rn <= 3)"""

  /** Each query's `nprobe` nearest lists among its supers' children. */
  def sqlRoutedProbeCte(name: String, nprobe: Int): String =
    s"""$name AS (SELECT vec_id, embedding, cid FROM (
          SELECT q.vec_id, q.embedding, c.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${sqlCos("q.embedding", "c.cv")} DESC, c.cid) AS rn
          FROM q2s q JOIN c2s c ON q.super = c.super)
        WHERE rn <= $nprobe)"""

  /** Each `src` vector's `keep`-ranked nearest centroids of `cent`
    * (sim at 9 dp, ties to the smaller cid), optionally carrying `label`.
    */
  def sqlAssignCte(name: String, src: String, keep: String, where: String = "",
      label: Boolean = false): String = {
    val (l, el) = if (label) ("label, ", "e.label, ") else ("", "")
    s"""$name AS (
        SELECT vec_id, embedding, ${l}cid FROM (
          SELECT e.vec_id, e.embedding, ${el}t.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${sqlCos("e.embedding", "t.cv")} DESC, t.cid) AS rn
          FROM $src e, cent t$where)
        WHERE rn $keep)"""
  }

  /** IVF probe lists: the `corpus` assigned to its `spill` nearest
    * lists (`corp_a`), the query panel to its `nprobe` nearest (`q_a`).
    */
  def sqlIvfProbeCtes(corpus: String, spill: String, nprobe: String,
      label: Boolean = false): String =
    s"""${sqlAssignCte("corp_a", corpus, spill, label = label)},
      ${sqlAssignCte("q_a", "embeddings", nprobe, " WHERE e.vec_id % 100 = 0", label)}"""

  /** Scored (query, neighbor) pairs that share a probed list. */
  def sqlProbePairsCte(distinct: Boolean = false): String =
    s"""p AS (SELECT ${if (distinct) "DISTINCT " else ""}q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ${sqlCos("q.embedding", "c.embedding")} AS sim
            FROM q_a q JOIN corp_a c ON q.cid = c.cid AND q.vec_id <> c.vec_id)"""

  /** The nprobe = 2 IVF oracle over the sampled centroids, top-5 per
    * query, with `corpus` as the indexed side.
    */
  def sqlSampledIvfTopK(corpus: String): String =
    s"""$SampledCentCte,
      ${sqlIvfProbeCtes(corpus, "= 1", "<= 2")},
      ${sqlProbePairsCte()}
      ${sqlTopK("p", 5)}"""

  /** The label-predicated IVF oracle (top-3 among probed neighbors whose
    * label is `labelOp` the query's): filtered search with `=`, hard
    * negatives with `<>`.
    */
  def sqlLabelIvfTopK(labelOp: String): String = s"""
      WITH $SampledCentCte,
      ${sqlIvfProbeCtes("embeddings", "= 1", "<= 2", label = true)},
      p AS (SELECT q.vec_id AS query_id, q.label, c.vec_id AS neighbor_id,
                   ${sqlCos("q.embedding", "c.embedding")} AS sim
            FROM q_a q JOIN corp_a c
              ON q.cid = c.cid AND q.label $labelOp c.label AND q.vec_id <> c.vec_id)
      ${sqlTopK("p", 3, keys = "query_id, label")}
    """.trim

  /** SQL twin of [[annQueries]]: the panel as (query_id, qv). */
  def sqlQueryPanelCte(name: String = "q"): String =
    s"""$name AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                 WHERE vec_id % 100 = 0)"""

  /** Exact cosine pairs `pairs(query_id, neighbor_id, sim)` between the
    * query panel (`q`) and the whole corpus (`c`).
    */
  def sqlExactPairsCtes(pairs: String, q: String = "q", c: String = "c"): String =
    s"""${sqlQueryPanelCte(q)},
      $c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      $pairs AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "cv")} AS sim
             FROM $q, $c WHERE query_id <> neighbor_id)"""

  /** The top-`k` rows of scored pairs `src` per query as CTE `name`. */
  def sqlRankCte(name: String, src: String, k: Int,
      cols: String = "query_id, neighbor_id"): String =
    s"""$name AS (SELECT $cols FROM (
                  SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id) AS rank
                  FROM $src) WHERE rank <= $k)"""

  /** The trained serving tier's approximate top-`k` over the query
    * panel (full-precision IVF, spill/nprobe as served) as `approx`.
    */
  def sqlServeApproxCtes(spill: Int, nprobe: Int, k: Int,
      cols: String = "query_id, neighbor_id"): String =
    s"""$sqlTrainedCentCtes,
      ${sqlIvfProbeCtes("embeddings", s"<= $spill", s"<= $nprobe")},
      ap AS (SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
                    ${sqlCos("qa.embedding", "ca.embedding")} AS sim
             FROM q_a qa JOIN corp_a ca ON qa.cid = ca.cid AND qa.vec_id <> ca.vec_id),
      ${sqlRankCte("approx", "ap", k, cols)}"""

  /** Exact top-5 `truth(query_id, neighbor_id)` for the query panel. */
  def sqlTruthTop5Ctes: String =
    s"""tq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                  WHERE vec_id % 100 = 0),
      tc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      truth AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${sqlCos("qv", "cv")} DESC, neighbor_id) AS rank
          FROM tq, tc WHERE query_id <> neighbor_id) WHERE rank <= 5)"""

  /** Final top-`k` rows per query over scored pairs `src`, ranked by
    * (sim DESC, neighbor_id).
    */
  def sqlTopK(src: String, k: Int, keys: String = "query_id"): String =
    s"""SELECT $keys, neighbor_id, rank, sim FROM (
        SELECT $keys, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM $src) WHERE rank <= $k
      ORDER BY query_id, rank"""

  /** Per-query hits of `approx` among `exact` and recall@5. */
  val RecallSelect =
    """SELECT e.query_id,
             sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
             round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5, 9) AS recall"""

  /** The recall@5 frame of `approx` against `exact` (both top-5 frames
    * of (query_id, neighbor_id)).
    */
  def recallAt5(exact: DataFrame, approx: DataFrame): DataFrame =
    exact
      .join(approx.withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", round(col("n_hit").cast("double") / 5, 9))
      .orderBy(col("query_id"))

  // ---- graph ---------------------------------------------------------------

  /** The customer-nation → supplier-nation trade graph: distinct nation
    * pairs that actually traded, via customer ⋈ orders ⋈ lineitem ⋈
    * supplier (dimension joins broadcast, the fact table never
    * reshuffles). Checkpointed once, so iterative rounds run over a
    * materialized ~N² nation-pair table, not a re-executed 4-way join.
    */
  def tradeEdges(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(Tables(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"))
      .distinct()
      .localCheckpoint()

  /** DuckDB twin of [[tradeEdges]]. */
  val TradeEdgesCte =
    """edges AS (SELECT DISTINCT c_nationkey::BIGINT AS src, s_nationkey::BIGINT AS dst
                 FROM customer JOIN orders ON c_custkey = o_custkey
                 JOIN lineitem ON l_orderkey = o_orderkey
                 JOIN supplier ON l_suppkey = s_suppkey)"""

  /** Every endpoint of `edges(src, dst)`. */
  val NodesCte =
    """nodes AS (SELECT DISTINCT node FROM
                  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))"""

  /** PageRank round `i`'s inbound mass: round-12dp contributions folded
    * in exact DECIMAL(38,12).
    */
  def sqlPageRankInflowCte(i: Int): String =
    s"""c$i AS (SELECT dst, CAST(sum(CAST(round(rank / outdeg, 12) AS DECIMAL(38,12))) AS DOUBLE) AS inr
             FROM edges JOIN r${i - 1} ON src = node JOIN outdeg USING (src) GROUP BY dst)"""

  /** Connected components over the undirected closure of `pairs(doc_a,
    * doc_b)` as a recursive CTE: edges → reach → `comp(id, mn)`, mn the
    * component's min id. `s`/`d` name the edge columns.
    */
  def sqlComponentCtes(pairs: String, s: String = "s", d: String = "d",
      id: String = "doc_id"): String =
    s"""edges AS (SELECT doc_a AS $s, doc_b AS $d FROM $pairs
                UNION SELECT doc_b, doc_a FROM $pairs),
      ${sqlReachCompCtes(s, d, id)}"""

  /** reach → comp over an `edges($s, $d)` CTE the caller defines. */
  def sqlReachCompCtes(s: String = "s", d: String = "d", id: String = "doc_id"): String =
    s"""reach($s, $d) AS (SELECT $s, $d FROM edges
                      UNION SELECT r.$s, e.$d FROM reach r JOIN edges e ON r.$d = e.$s),
      comp AS (SELECT $s AS $id, min($d) AS mn FROM reach GROUP BY $s)"""

  // ---- events --------------------------------------------------------------

  /** Per-day exact value totals (`d`, `total`). */
  def dailyTotals(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(to_date(col("ts")).as("d"), col("value"))
      .groupBy(col("d"))
      .agg(sum(round(col("value"), 9).cast(DecimalType(27, 9)))
        .cast("double").as("total"))

  /** DuckDB twin of [[dailyTotals]]: ev → `daily(d, total)`. */
  val DailyTotalsCtes =
    """ev AS (SELECT ts::DATE AS d, value FROM events),
      daily AS (SELECT d, sum(CAST(round(value, 9) AS DECIMAL(27,9)))::DOUBLE AS total
                FROM ev GROUP BY d)"""

  /** The injected-shift daily series: +8.0 on every event of the last 8
    * days before the corpus-global newest day, then the per-day exact
    * mean `x`.
    */
  def shiftedDailyMeans(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(to_date(col("ts")).as("d"), col("value"))
    val anchor = ev.agg(max(col("d")).as("gd"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("value",
        when(col("d") > date_sub(col("gd"), 8), col("value") + 8.0)
          .otherwise(col("value")))
      .groupBy(col("d"))
      .agg(round(sum(round(col("value"), 9).cast(DecimalType(27, 9)))
        .cast("double") / count(lit(1)).cast("double"), 9).as("x"))
  }

  /** DuckDB twin of [[shiftedDailyMeans]]: ev → a → sh → `dl(d, x)`. */
  val ShiftedDailyCtes =
    """ev AS (SELECT ts::DATE AS d, value FROM events),
      a AS (SELECT max(d) AS gd FROM ev),
      sh AS (SELECT d, CASE WHEN d > gd - 8 THEN value + 8.0 ELSE value END AS value
             FROM ev, a),
      dl AS (SELECT d, round(sum(CAST(round(value, 9) AS DECIMAL(27,9)))::DOUBLE
                       / count(*), 9) AS x
             FROM sh GROUP BY d)"""

  /** Two-sided CUSUM over `dl(d, x)` up to the running minima (k = 0.5
    * sd): m → st (mean, sd) → dr (drifts) → r1 (prefix sums) → r2.
    */
  val CusumCtes =
    """m AS (SELECT count(*) AS n, sum(CAST(round(x, 9) AS DECIMAL(27,9))) AS s,
              sum(CAST(round(x, 9) AS DECIMAL(18,9)) * CAST(round(x, 9) AS DECIMAL(18,9))) AS q
            FROM dl),
      st AS (SELECT dl.d, dl.x, m.s::DOUBLE / m.n AS mu,
               sqrt((m.q::DOUBLE - m.s::DOUBLE * m.s::DOUBLE / m.n) / (m.n - 1.0)) AS sd
             FROM dl, m),
      dr AS (SELECT d, x, mu, sd,
               CAST(round(x - mu - 0.5 * sd, 9) AS DECIMAL(27,9)) AS dp,
               CAST(round(mu - x - 0.5 * sd, 9) AS DECIMAL(27,9)) AS dn
             FROM st),
      r1 AS (SELECT d, x, mu, sd, sum(dp) OVER w AS pp, sum(dn) OVER w AS pn
             FROM dr WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      r2 AS (SELECT d, x, mu, sd, pp, pn,
               min(pp) OVER w AS mp0, min(pn) OVER w AS mn0
             FROM r1 WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""

  /** Users 0-4's per-minute grid over their observed span, and their
    * per-minute exact value sums: (grid(user_id, m), agg(user_id, m, v)).
    */
  def minuteGrid(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables(s, dir, "events").filter(col("user_id") < 5)
    val bounds = ev.groupBy(col("user_id"))
      .agg(date_trunc("minute", min(col("ts"))).as("t0"),
        date_trunc("minute", max(col("ts"))).as("t1"))
    val grid = bounds.select(col("user_id"),
      explode(sequence(col("t0"), col("t1"), expr("interval 1 minute"))).as("m"))
    val agg = ev.groupBy(col("user_id"), date_trunc("minute", col("ts")).as("m"))
      .agg(sum(col("value").cast(DecimalType(18, 3))).cast("double").as("v"))
    (grid, agg)
  }

  /** DuckDB twin of [[minuteGrid]]: b → grid → agg. */
  val MinuteGridCtes =
    """b AS (SELECT user_id, date_trunc('minute', min(ts)) AS t0,
                        date_trunc('minute', max(ts)) AS t1
                 FROM events WHERE user_id < 5 GROUP BY user_id),
      grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS m FROM b),
      agg AS (SELECT user_id, date_trunc('minute', ts) AS m,
                     CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS v
              FROM events WHERE user_id < 5 GROUP BY 1, 2)"""

  /** The as-of join sides: purchases (event_id, user_id, ts) and signups
    * (r_user_id, r_ts).
    */
  def purchasesAndSignups(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables(s, dir, "events")
    (ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("r_user_id"), col("ts").as("r_ts")))
  }

  /** The `$.k` JSON property as string and as BIGINT, per event. */
  val JsonKOracle =
    """SELECT event_id,
             json_extract_string(props, '$.k') AS k_str,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
      FROM events ORDER BY event_id"""

  // ---- TPC-H ---------------------------------------------------------------

  /** The lineitem head the scalar-function sweeps read (l_orderkey <
    * 5000); its SQL twin ends each sweep's oracle.
    */
  def lineitemHead(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").filter(col("l_orderkey") < 5000)
  val LineitemHeadFrom =
    """FROM lineitem WHERE l_orderkey < 5000
      ORDER BY l_orderkey, l_linenumber"""

  /** Revenue and line count per order priority over a lineitem ⋈ orders
    * frame, and its oracle over the raw tables.
    */
  def priorityRevenue(joined: DataFrame): DataFrame =
    joined.groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(18,2)"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  val PriorityRevenueOracle =
    """SELECT o_orderpriority,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             count(*) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Monthly order count and exact revenue of the orders with
    * o_orderdate in [lo, hi] (ISO dates), read through `read(lo, hi)`
    * (a pruned read may return a superset; the range filter is
    * re-applied), and its oracle.
    */
  def monthlyRevenue(lo: String, hi: String)(read: (Column, Column) => DataFrame): DataFrame = {
    val (l, h) = (lit(java.sql.Date.valueOf(lo)), lit(java.sql.Date.valueOf(hi)))
    read(l, h)
      .filter(col("o_orderdate").between(l, h))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        Q.moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("month"))
  }
  def sqlMonthlyRevenue(lo: String, hi: String): String = s"""
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             count(*)::BIGINT AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      WHERE o_orderdate BETWEEN DATE '$lo' AND DATE '$hi'
      GROUP BY 1 ORDER BY 1
    """.trim

  /** Order count and exact revenue per order status, and its SQL over
    * an orders-shaped `src`.
    */
  def statusRevenue(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Q.moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  def sqlStatusRevenue(src: String): String =
    s"""SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM $src GROUP BY 1 ORDER BY 1"""

  /** The "refreshed" order-key set of the set-op queries: published keys
    * minus every 89th, plus every 211th shifted past the key space.
    */
  def refreshedKeys(o: DataFrame): DataFrame =
    o.filter(col("o_orderkey") % 89 =!= 0)
      .unionByName(o.filter(col("o_orderkey") % 211 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey")))
  val RefreshedKeysSql =
    "SELECT o_orderkey FROM orders WHERE o_orderkey % 89 <> 0 UNION ALL " +
      "SELECT o_orderkey + 100000000 FROM orders WHERE o_orderkey % 211 = 0"

  // ---- entity resolution ---------------------------------------------------

  /** The injected ground-truth pairs of the er fixture (each dirty id
    * encodes its clean source: +200000 deletion, +400000 transposition,
    * +600000 suffix typo).
    */
  def erTruth(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").select(col("c_custkey"))
    cust.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey").as("id_a"), (col("c_custkey") + 200000L).as("id_b"))
      .unionByName(cust.filter(col("c_custkey") % 10 === 5)
        .select(col("c_custkey").as("id_a"), (col("c_custkey") + 400000L).as("id_b")))
      .unionByName(cust.filter(col("c_custkey") % 10 === 2)
        .select(col("c_custkey").as("id_a"), (col("c_custkey") + 600000L).as("id_b")))
      .withColumn("__t", lit(1L))
  }

  /** DuckDB twin of [[erTruth]] over the `base` records CTE. */
  val ErTruthCte =
    """truth AS (SELECT c_custkey AS id_a, c_custkey + 200000 AS id_b, 1 AS t
                FROM base WHERE c_custkey % 10 = 0
                UNION ALL
                SELECT c_custkey, c_custkey + 400000, 1
                FROM base WHERE c_custkey % 10 = 5
                UNION ALL
                SELECT c_custkey, c_custkey + 600000, 1
                FROM base WHERE c_custkey % 10 = 2)"""

  /** Per typo class: truth / predicted / hit counts with precision and
    * recall of the predicted pairs `pred(id_a, id_b)` against [[erTruth]].
    */
  def erClassMetrics(pred: DataFrame, truth: DataFrame): DataFrame =
    pred.select(col("id_a"), col("id_b"), lit(1L).as("__p"))
      .join(truth, Seq("id_a", "id_b"), "full_outer")
      .withColumn("cls",
        when(col("id_b") >= 600000L, "suffix_typo")
          .when(col("id_b") >= 400000L, "transposition")
          .when(col("id_b") >= 200000L, "deletion")
          .otherwise("base_pair"))
      .groupBy(col("cls"))
      .agg(sum(coalesce(col("__t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("__p"), lit(0L))).as("n_pred"),
        sum(when(col("__p").isNotNull && col("__t").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .withColumn("precision", when(col("n_pred") > 0,
        round(col("n_hit").cast("double") / col("n_pred"), 9)))
      .withColumn("recall", when(col("n_truth") > 0,
        round(col("n_hit").cast("double") / col("n_truth"), 9)))

  /** Per joined truth/prediction row: its typo class and the
    * truth / predicted / hit indicators.
    */
  val ErClassCols =
    """CASE WHEN id_b >= 600000 THEN 'suffix_typo'
                        WHEN id_b >= 400000 THEN 'transposition'
                        WHEN id_b >= 200000 THEN 'deletion'
                        ELSE 'base_pair' END AS cls,
                   coalesce(t, 0) AS t, coalesce(p, 0) AS p,
                   CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END AS hit"""

  /** The two capped blocking passes over `allr` (suffix and
    * all-but-last-char keys; blocks over 64 records dropped): k1, k2.
    */
  val ErBlockCtes =
    """r1 AS (SELECT *, right(c_name, 5) AS blk FROM allr),
      b1 AS (SELECT blk FROM r1 GROUP BY blk HAVING count(*) <= 64),
      k1 AS (SELECT r1.* FROM r1 JOIN b1 USING (blk)),
      r2 AS (SELECT *, substring(c_name, 1, len(c_name) - 1) AS blk FROM allr),
      b2 AS (SELECT blk FROM r2 GROUP BY blk HAVING count(*) <= 64),
      k2 AS (SELECT r2.* FROM r2 JOIN b2 USING (blk))"""
}
