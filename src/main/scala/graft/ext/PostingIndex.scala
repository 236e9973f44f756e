package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared stages of the inverted-list ("posting") pair families.
  *
  * A family builds (doc, key…[, payload]) postings — its key
  * extractor: MinHash band keys, shingle hashes, winnow fingerprints,
  * TF-IDF terms, PPJoin prefix tokens, simhash bytes, graph link keys —
  * and scores what the stages here hand back with its own per-pair or
  * per-doc aggregate. Every family proposes pairs through [[keyJoin]],
  * so the join strategy is decided once for all of them.
  *
  * Left out on purpose: containment's bucket-local combination expand
  * (a different shape, measured ~3× cheaper than the self-join there)
  * and the entity-resolution block index (no join hint; a hint would
  * change its plan).
  */
private[graft] object PostingIndex {

  /** Rows of `a` and `b` that share every key column in `keys`, kept
    * where the pair predicate `cond` holds — one row per shared key
    * occurrence, keys once, then `a`'s other columns, then `b`'s.
    *
    * Join strategy: a shuffled hash join with `b` as the build side.
    * Posting keys are heavily duplicated (a key repeats once per
    * document that carries it — the point of LSH bands and shared
    * shingles), and sort-merge buffers every same-key run on both
    * sides; a shuffled hash join streams one side against a
    * per-partition map and measures ~2x faster. Spark's SHJ spills
    * since 3.1, so the hint stays safe when a hot key overflows an
    * executor at full scale (AQE skew handling still applies to the
    * shuffle itself).
    */
  def keyJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
      cond: Column = lit(true)): DataFrame =
    a.join(b.hint("shuffle_hash"), keys).filter(cond)

  /** The posting self-join: document pairs (doc_a < doc_b) of
    * `postings` that share the key `keys`, one row per shared key
    * occurrence, with each side's payload columns (`payloadA` and
    * `payloadB` are projections of `postings` under per-side names).
    * Both sides keep the key columns' own names, so their shuffles
    * differ only in aliases and AQE reuses one of them.
    */
  def selfJoin(postings: DataFrame, idCol: String, keys: Seq[String],
      payloadA: Seq[Column] = Nil, payloadB: Seq[Column] = Nil): DataFrame = {
    def side(doc: String, payload: Seq[Column]): DataFrame =
      postings.select(keys.map(col) ++ (col(idCol).as(doc) +: payload): _*)
    keyJoin(side("doc_a", payloadA), side("doc_b", payloadB), keys,
      col("doc_a") < col("doc_b"))
  }

  /** Exact distinct-set Jaccard of candidate pairs (`a`, `b`) ≥
    * `threshold`: `setsA` and `setsB` are (id, set array) frames whose
    * set joins back by id onto each side. Cost is candidates × one
    * bounded set intersection; the sets shuffle only for docs in some
    * candidate pair. Output (`a`, `b`, jaccard).
    */
  def verifyJaccard(cands: DataFrame, setsA: DataFrame, setsB: DataFrame,
      threshold: Double, a: String = "doc_a", b: String = "doc_b"): DataFrame =
    cands
      .join(setsA.toDF(a, "__sa"), a)
      .join(setsB.toDF(b, "__sb"), b)
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__sa")) + size(col("__sb")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col(a), col(b), col("jaccard"))

  /** Per document of (id, `key`) `postings`: the posting count, how many
    * of its postings carry a key seen in at least two documents, and
    * that share rounded to 9 dp — named `n`, `shared`, `ratio`. Linear:
    * a key-keyed document-frequency aggregate, one join-back, a
    * per-doc aggregate; no pair is ever listed.
    */
  def sharedKeyRatio(postings: DataFrame, idCol: String, key: String,
      n: String, shared: String, ratio: String): DataFrame = {
    val dfreq = postings.groupBy(col(key)).agg(countDistinct(col(idCol)).as("__nd"))
    postings.join(dfreq, Seq(key))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as(n), sum((col("__nd") >= 2).cast("long")).as(shared))
      .withColumn(ratio, round(col(shared).cast("double") / col(n).cast("double"), 9))
  }
}
