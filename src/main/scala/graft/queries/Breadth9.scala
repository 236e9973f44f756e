package graft.queries

import graft.etl.{SampleOps, Tables}
import graft.ext.{Dedup, EvalOps, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Round-9 continuation waves: the evaluation family (retrieval
  * recall/MRR/nDCG vs derived qrels, quality-model confusion +
  * calibration, langid confusion, dedup propose precision/recall),
  * binary sign-quantized Hamming ANN with exact rerank (the
  * 32×-compression serving tier), Efraimidis–Spirakis weighted
  * sampling, CDC changelog application with tombstones,
  * schema-evolution and XML sources, value window functions, directed
  * containment dedup, IVF list rebalancing served from the persisted
  * index, the key-skew preflight and shard manifest, and the
  * event-analytics trio (retention cohorts, last-touch attribution,
  * market-basket pairs).
  */
object Breadth9 {

  /** Retrieval evaluation: run the standard three-query BM25 batch at
    * k=10 against the persisted inverted index, derive AND-semantics
    * qrels from the corpus itself (relevant ⇔ doc contains every query
    * term), and report per-query recall@10 / MRR@10 / binary nDCG@10 —
    * the offline gate every retrieval tier passes before its output
    * feeds training-data selection.
    *
    * Scale: the run is q×10 rows; qrels probe the term-keyed corpus
    * with a broadcast query vocabulary; every metric aggregate is
    * per-query over ≤10 rows. See [[graft.ext.EvalOps]].
    */
  val evalRetrievalMetrics = Q(
    "eval_retrieval_metrics",
    (s, dir) => {
      import s.implicits._
      val (postsDir, statsDir) = Breadth7.ensureTextIndex(s, dir)
      val qt = Breadth7.MultiQueries.toDF("query_id", "term")
      val run = TextOps.bm25MultiRank(
          s.read.parquet(postsDir), s.read.parquet(statsDir), qt, "doc_id", k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val qrels = EvalOps.andQrels(Tables(s, dir, "documents"), qt, "doc_id", "text")
      EvalOps.retrievalMetrics(run, qrels, "doc_id", k = 10)
        .orderBy(col("query_id"))
    },
    Some {
      val values = Breadth7.MultiQueries
        .map { case (q, t) => s"($q::BIGINT, '$t')" }.mkString(", ")
      s"""
      WITH ${Fragments.sqlBm25BaseCtes()},
      qt(query_id, term) AS (SELECT * FROM (VALUES $values)),
      qn AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY query_id),
      ${Fragments.sqlBm25QueryScoreCtes},
      run AS (SELECT query_id, doc_id, rn AS rank FROM (
                SELECT query_id, doc_id, score,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, doc_id) AS rn
                FROM agg) WHERE rn <= 10),
      dterm AS (SELECT doc_id, unnest(list_distinct(w)) AS term FROM norm),
      relc AS (SELECT qt.query_id, dterm.doc_id, count(*) AS c
               FROM dterm JOIN qt USING (term) GROUP BY 1, 2),
      rel AS (SELECT query_id, doc_id FROM relc JOIN qn USING (query_id)
              WHERE c = n_terms),
      nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY query_id),
      hits AS (SELECT run.query_id, run.rank
               FROM run JOIN rel USING (query_id, doc_id)),
      ha AS (SELECT query_id, count(*) AS n_hit,
                    round(1.0 / min(rank), 9) AS mrr,
                    CAST(sum(CAST(round(ln(2.0::DOUBLE) / ln(rank + 1.0::DOUBLE), 9)
                      AS DECIMAL(27,9))) AS DOUBLE) AS dcg
             FROM hits GROUP BY query_id),
      base AS (SELECT DISTINCT query_id FROM run),
      m AS (SELECT b.query_id,
                   coalesce(n.n_rel, 0)::BIGINT AS n_rel,
                   coalesce(h.n_hit, 0)::BIGINT AS n_hit,
                   coalesce(h.mrr, 0.0::DOUBLE) AS mrr,
                   coalesce(h.dcg, 0.0::DOUBLE) AS dcg
            FROM base b LEFT JOIN nrel n USING (query_id)
                 LEFT JOIN ha h USING (query_id)),
      i AS (SELECT query_id, n_rel, n_hit, mrr, dcg,
              CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE
                CAST(list_sum(list_transform(range(1, least(n_rel, 10) + 1),
                  i -> CAST(round(ln(2.0::DOUBLE) / ln(i + 1.0::DOUBLE), 9)
                    AS DECIMAL(27,9)))) AS DOUBLE) END AS idcg
            FROM m)
      SELECT query_id, n_rel, n_hit,
             CASE WHEN n_rel = 0 THEN 0.0::DOUBLE
                  ELSE round(n_hit::DOUBLE / n_rel, 9) END AS recall,
             mrr,
             CASE WHEN idcg = 0.0 THEN 0.0::DOUBLE
                  ELSE round(dcg / idcg, 9) END AS ndcg
      FROM i ORDER BY query_id
    """.trim
    })

  /** Binary-rescoring ANN: sign-quantize 64-dim embeddings to one
    * BIGINT word, Hamming top-20 propose (`bit_count(xor)` over 8-byte
    * words — 32× less memory traffic than float cosine), exact cosine
    * rerank to top-5. See [[Similarity.binaryHammingTopK]]; the oracle
    * counts sign mismatches per dimension, which equals the popcount of
    * the packed XOR by construction.
    */
  val annBinaryTopk = Q(
    "ann_binary_topk",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.binaryHammingTopK(s, emb, Fragments.annQueries(emb),
          "vec_id", "embedding", kCand = 20, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                 WHERE vec_id % 100 = 0),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      h AS (SELECT query_id, neighbor_id, qv, cv,
              list_sum(list_transform(range(len(qv)), i ->
                CASE WHEN (qv[i+1] > 0) <> (cv[i+1] > 0) THEN 1 ELSE 0 END))::BIGINT AS hamming
            FROM q, c WHERE query_id <> neighbor_id),
      cand AS (SELECT * FROM (
                 SELECT query_id, neighbor_id, qv, cv, hamming,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY hamming, neighbor_id) AS hr
                 FROM h) WHERE hr <= 20),
      sc AS (SELECT query_id, neighbor_id, hamming,
                    ${Fragments.sqlCos("qv", "cv")} AS sim
             FROM cand),
      r AS (SELECT query_id, neighbor_id, hamming, sim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS rank
            FROM sc)
      SELECT query_id, rank::BIGINT AS rank, neighbor_id, hamming, sim
      FROM r WHERE rank <= 5
      ORDER BY query_id, rank
    """.trim))

  /** Weighted sample without replacement (A-ES): 25 orders selected
    * with probability proportional to `o_totalprice` via the
    * deterministic key ln(u)/w, u md5-derived — a distributed top-n
    * (per-partition heaps), no global sort, no prefix sum.
    */
  val q58WeightedSample = Q(
    "q58_weighted_sample",
    (s, dir) =>
      SampleOps.weightedSampleTopN(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          "o_orderkey", "o_totalprice", n = 25)
        .orderBy(col("o_orderkey")),
    Some("""
      WITH k AS (SELECT o_orderkey, o_totalprice,
                   -- '+ 0.0' normalizes IEEE signed zero: a weight large
                   -- enough that |ln(u)/w| < 0.5e-12 rounds to -0.0 under
                   -- DuckDB's binary round but +0.0 under Spark's
                   -- BigDecimal round (hit at sf0.1 by the preflight lint)
                   (round(ln((('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
                       + 1)::DOUBLE / 4294967296.0) / o_totalprice, 12) + 0.0) AS sel_key
                 FROM orders),
      top AS (SELECT * FROM k ORDER BY sel_key DESC, o_orderkey LIMIT 25)
      SELECT o_orderkey, o_totalprice, sel_key FROM top ORDER BY o_orderkey
    """.trim))

  /** Classification evaluation of the model-based quality filter
    * against the rule-based Gopher labels: confusion counts +
    * precision/recall/F1/accuracy in one row. This is the gate a
    * model-based filter passes before replacing (or augmenting) the
    * rule set it was distilled from. Both label columns are scan-side
    * projections; the doc_id join is AQE-broadcast at small scale and
    * an id-keyed shuffle at 100 TB; the confusion aggregate is one
    * map-side-combined pass.
    */
  val evalQualityConfusion = Q(
    "eval_quality_confusion",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pred = TextOps.withModelQuality(docs, "text")
        .select(col("doc_id"), col("keep").cast("long").as("__p"))
      val truth = TextOps.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").cast("long").as("__t"))
      def cell(p: Int, t: Int) =
        sum(when(col("__p") === p && col("__t") === t, 1L).otherwise(0L))
      pred.join(truth, "doc_id")
        .agg(cell(1, 1).as("tp"), cell(1, 0).as("fp"),
          cell(0, 1).as("fn"), cell(0, 0).as("tn"))
        .withColumn("precision",
          when(col("tp") + col("fp") === 0, lit(0.0))
            .otherwise(round(col("tp").cast("double") / (col("tp") + col("fp")), 9)))
        .withColumn("recall",
          when(col("tp") + col("fn") === 0, lit(0.0))
            .otherwise(round(col("tp").cast("double") / (col("tp") + col("fn")), 9)))
        .withColumn("f1",
          when(col("precision") + col("recall") === 0.0, lit(0.0))
            .otherwise(round(lit(2.0) * col("precision") * col("recall") /
              (col("precision") + col("recall")), 9)))
        .withColumn("accuracy",
          round((col("tp") + col("tn")).cast("double") /
            (col("tp") + col("fp") + col("fn") + col("tn")), 9))
    },
    Some(s"""
      WITH ${Fragments.sqlModelLogitCtes},
      pred AS (SELECT doc_id,
                 CASE WHEN round(1.0 / (1.0 + exp(-logit)), 9) >= 0.5
                   THEN 1 ELSE 0 END AS p
               FROM l),
      ${Fragments.sqlGopherTruthCtes},
      c AS (SELECT
              sum(CASE WHEN p = 1 AND t = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
              sum(CASE WHEN p = 1 AND t = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
              sum(CASE WHEN p = 0 AND t = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
              sum(CASE WHEN p = 0 AND t = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
            FROM pred JOIN truth USING (doc_id)),
      pr AS (SELECT tp, fp, fn, tn,
               CASE WHEN tp + fp = 0 THEN 0.0::DOUBLE
                    ELSE round(tp::DOUBLE / (tp + fp), 9) END AS precision,
               CASE WHEN tp + fn = 0 THEN 0.0::DOUBLE
                    ELSE round(tp::DOUBLE / (tp + fn), 9) END AS recall
             FROM c)
      SELECT tp, fp, fn, tn, precision, recall,
             CASE WHEN precision + recall = 0.0 THEN 0.0::DOUBLE
                  ELSE round(2.0 * precision * recall / (precision + recall), 9) END AS f1,
             round((tp + tn)::DOUBLE / (tp + fp + fn + tn), 9) AS accuracy
      FROM pr ORDER BY tp
    """.trim))

  /** Calibration curve (reliability diagram) of the quality model's
    * predicted probability vs the empirical Gopher-keep rate, in 10
    * probability bins — the diagnostic that decides whether a filter
    * threshold transfers across corpora. Mean probability sums the
    * 9dp-rounded probs in exact DECIMAL so bin means are
    * order-independent.
    */
  val evalModelCalibration = Q(
    "eval_model_calibration",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val docs = Tables(s, dir, "documents")
      val pred = TextOps.withModelQuality(docs, "text")
        .select(col("doc_id"), col("prob"))
      val truth = TextOps.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").cast("long").as("__t"))
      pred.join(truth, "doc_id")
        .withColumn("bin", least(floor(col("prob") * 10), lit(9.0)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("prob").cast(DecimalType(27, 9))).cast("double") /
            count(lit(1)), 9).as("mean_prob"),
          round(sum(col("__t")).cast("double") / count(lit(1)), 9).as("keep_rate"))
        .orderBy(col("bin"))
    },
    Some(s"""
      WITH ${Fragments.sqlModelLogitCtes},
      pred AS (SELECT doc_id, round(1.0 / (1.0 + exp(-logit)), 9) AS prob FROM l),
      ${Fragments.sqlGopherTruthCtes},
      b AS (SELECT pred.doc_id, prob, t,
              least(floor(prob * 10), 9.0)::BIGINT AS bin
            FROM pred JOIN truth USING (doc_id))
      SELECT bin, count(*) AS n,
             round(CAST(sum(CAST(prob AS DECIMAL(27,9))) AS DOUBLE) / count(*), 9) AS mean_prob,
             round(sum(t)::DOUBLE / count(*), 9) AS keep_rate
      FROM b GROUP BY bin ORDER BY bin
    """.trim))

  /** XML scan/sink roundtrip on Spark 4's built-in XML source (S-row
    * parity with the CSV/JSONL/ORC roundtrips): write an orders
    * projection as XML, read it back under an explicit schema (schema
    * inference on 100 TB of XML would be a second full scan), verify
    * by aggregate against the original table. Java's shortest-repr
    * double serialization roundtrips o_totalprice exactly.
    */
  val srcXmlRoundtrip = Q(
    "src_xml_roundtrip",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val d = graft.etl.LayoutOps.ensureRunDir(s, dir, "orders_xml") { out =>
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.option("rowTag", "order").format("xml").save(out)
      }
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderpriority", StringType)))
      s.read.schema(schema).option("rowTag", "order").format("xml").load(d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Q.moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """.trim))

  /** CDC changelog application WITH tombstones — the missing third of
    * the merge family (u2 upserts, u8 compacts a log, this one applies
    * deletes): an ordered changelog of U/D ops folds into the base
    * table, LATEST op per key winning (a U after a D resurrects the
    * key; a D after a U kills it — the op-ORDER semantics a naive
    * "deletes win" merge gets wrong, which the fixture exercises both
    * ways). One window shuffle compacts the log (u8 shape), then an
    * id-keyed anti join + union — no full-table rewrite beyond the
    * touched keys' partitions at 100 TB.
    *
    * The changelog is derived deterministically from the orders table:
    * md5-bucket 0 keys get U(seq 1) then D(seq 2) → net delete;
    * bucket 1 keys get D(seq 1) then U(seq 2) → net update to
    * status 'X'.
    */
  val u11CdcApply = Q(
    "u11_cdc_apply",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val bucket = conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10
      val keyed = base.withColumn("__b", bucket)
      val log = keyed.filter(col("__b") === 0)
        .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
          lit("P").as("new_status"))
        .unionByName(keyed.filter(col("__b") === 0)
          .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
            lit(null: String).as("new_status")))
        .unionByName(keyed.filter(col("__b") === 1)
          .select(col("o_orderkey"), lit(1L).as("seq"), lit("D").as("op"),
            lit(null: String).as("new_status")))
        .unionByName(keyed.filter(col("__b") === 1)
          .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
            lit("X").as("new_status")))
      val wLatest = Window.partitionBy(col("o_orderkey")).orderBy(col("seq").desc)
      val latest = log.withColumn("__rn", row_number().over(wLatest))
        .filter(col("__rn") === 1)
        .select(col("o_orderkey"), col("op"), col("new_status"))
      val untouched = base.join(latest.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      val updated = base.join(latest.filter(col("op") === "U"), Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("new_status").as("o_orderstatus"))
      untouched.unionByName(updated).orderBy(col("o_orderkey"))
    },
    Some("""
      WITH keyed AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                       ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 10 AS b
                     FROM orders),
      log AS (
        SELECT o_orderkey, 1::BIGINT AS seq, 'U' AS op, 'P' AS new_status
        FROM keyed WHERE b = 0
        UNION ALL
        SELECT o_orderkey, 2, 'D', NULL FROM keyed WHERE b = 0
        UNION ALL
        SELECT o_orderkey, 1, 'D', NULL FROM keyed WHERE b = 1
        UNION ALL
        SELECT o_orderkey, 2, 'U', 'X' FROM keyed WHERE b = 1),
      latest AS (SELECT o_orderkey, op, new_status FROM log
                 QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                            ORDER BY seq DESC) = 1)
      SELECT k.o_orderkey, k.o_custkey, k.o_orderstatus
      FROM keyed k WHERE NOT EXISTS
        (SELECT 1 FROM latest l WHERE l.o_orderkey = k.o_orderkey)
      UNION ALL
      SELECT k.o_orderkey, k.o_custkey, l.new_status AS o_orderstatus
      FROM keyed k JOIN latest l USING (o_orderkey) WHERE l.op = 'U'
      ORDER BY o_orderkey
    """.trim))

  /** Schema-evolution scan: two parquet generations of the same table
    * (v2 adds a column), read in one pass with `mergeSchema` — the
    * schema-on-read posture every long-lived 100 TB table needs (a
    * backfill rewrite of old generations would be a full-table write).
    * Missing columns surface as NULL; the aggregate buckets legacy
    * rows under their own label to prove the NULL path.
    */
  val srcSchemaEvolution = Q(
    "src_schema_evolution",
    (s, dir) => {
      val base = graft.etl.LayoutOps.ensureRunDir(s, dir, "orders_evo") { out =>
        val o = Tables(s, dir, "orders")
          .withColumn("__b",
            conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
              .cast("long") % 100)
        o.filter(col("__b") < 50)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.parquet(s"$out/v1")
        o.filter(col("__b") >= 50)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.parquet(s"$out/v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .withColumn("gen", coalesce(col("o_orderpriority"), lit("LEGACY")))
        .groupBy(col("gen"))
        .agg(count(lit(1)).as("n"), Q.moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("gen"))
    },
    Some("""
      WITH keyed AS (SELECT o_orderkey, o_totalprice, o_orderpriority,
                       ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 100 AS b
                     FROM orders),
      u AS (SELECT o_totalprice, NULL AS o_orderpriority FROM keyed WHERE b < 50
            UNION ALL
            SELECT o_totalprice, o_orderpriority FROM keyed WHERE b >= 50)
      SELECT coalesce(o_orderpriority, 'LEGACY') AS gen, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM u GROUP BY 1 ORDER BY gen
    """.trim))

  /** Value window functions over explicit frames: first/last/nth value
    * of the price within each customer's orders by date — completing
    * the w1-w5 window family with the frame-sensitive value accessors
    * (last_value needs the full-partition frame spelled out; the
    * default RANGE frame would return the CURRENT row's value — the
    * classic last_value trap, pinned here).
    */
  val w6ValueFunctions = Q(
    "w6_value_functions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byDate = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = byDate.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("first_price", first(col("o_totalprice")).over(full))
        .withColumn("last_price", last(col("o_totalprice")).over(full))
        .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(full))
        .select(col("o_custkey"), col("o_orderkey"), col("first_price"),
          col("last_price"), col("second_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             first_value(o_totalprice) OVER w AS first_price,
             last_value(o_totalprice) OVER w AS last_price,
             nth_value(o_totalprice, 2) OVER w AS second_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey
    """.trim))

  /** Directed containment dedup (boilerplate/quotation detection): the
    * Jaccard family's blind spot — a short doc embedded in a long one
    * has high containment but low Jaccard, so the MinHash-band propose
    * would never surface it. Candidates come from rare shingles
    * (df ≤ 20) instead; see [[Dedup.containmentPairs]]. The oracle
    * replays the identical propose + score over shingle strings (the
    * ngramJaccard same-sets argument).
    */
  val dedupContainment = Q(
    "dedup_containment",
    (s, dir) =>
      Dedup.containmentPairsFromSets(
          s.read.parquet(graft.queries.Breadth20.ensureAugShingleSets(s, dir)),
          "doc_id", threshold = 0.8)
        .orderBy(col("contained"), col("container")),
    Some(s"""
      WITH ${Fragments.augCte(perturb = true)},
      norm AS (SELECT doc_id, ${Fragments.NormW} AS w FROM aug),
      sh AS (SELECT doc_id, w FROM norm WHERE len(w) >= 3),
      ss AS (SELECT doc_id,
               list_distinct(list_transform(range(len(w) - 2),
                 i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
             FROM sh),
      posts AS (SELECT doc_id, unnest(s) AS g FROM ss),
      dfq AS (SELECT g, count(*) AS df FROM posts GROUP BY g),
      rare AS (SELECT doc_id, g FROM posts JOIN dfq USING (g) WHERE df <= 20),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id),
      sc AS (SELECT doc_a, doc_b,
               len(list_filter(x.s, e -> list_contains(y.s, e))) AS inter,
               len(x.s) AS na, len(y.s) AS nb
             FROM cand JOIN ss x ON x.doc_id = cand.doc_a
                       JOIN ss y ON y.doc_id = cand.doc_b),
      d AS (SELECT doc_a AS contained, doc_b AS container,
              round(inter::DOUBLE / na, 9) AS containment FROM sc
            UNION ALL
            SELECT doc_b, doc_a, round(inter::DOUBLE / nb, 9) FROM sc)
      SELECT contained, container, containment FROM d
      WHERE containment >= 0.8
      ORDER BY contained, container
    """.trim))

  /** Language-ID confusion matrix: the stopword-hit classifier's
    * predictions scored against the corpus's ground-truth `lang` labels
    * — one (label, prediction) cell per row with count and
    * row-normalized fraction. The per-language recall lives on the
    * diagonal; off-diagonal cells say WHICH confusions happen (the
    * dashboard that decides whether a langid tier is good enough to
    * route documents). Labels and predictions are both scan-side; the
    * confusion aggregate is one map-side-combined groupBy over ≤
    * |langs|² cells.
    */
  val evalLangidConfusion = Q(
    "eval_langid_confusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pred = TextOps.withLangId(Tables(s, dir, "documents"), "text")
        .select(col("lang"), col("lang_pred"))
      val wl = Window.partitionBy(col("lang"))
      pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac", round(col("n").cast("double") / sum(col("n")).over(wl), 9))
        .orderBy(col("lang"), col("lang_pred"))
    },
    Some(s"""
      WITH n AS (SELECT doc_id, lang, ${Fragments.NormW} AS w FROM documents),
      p AS (SELECT doc_id, lang,
              ${Fragments.sqlHits(TextOps.StopEn)} AS hits_en,
              ${Fragments.sqlHits(TextOps.StopEs)} AS hits_es,
              ${Fragments.sqlHits(TextOps.StopDe)} AS hits_de,
              CASE WHEN hits_en >= hits_es AND hits_en >= hits_de THEN 'en'
                   WHEN hits_es >= hits_de THEN 'es' ELSE 'de' END AS lang_pred
            FROM n),
      c AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2)
      SELECT lang, lang_pred, n,
             round(n::DOUBLE / sum(n) OVER (PARTITION BY lang), 9) AS frac
      FROM c ORDER BY lang, lang_pred
    """.trim))

  /** Join-key skew preflight: per-key cardinalities of the intended
    * shuffle key, reported as the hottest keys with their ratio to the
    * mean — the diagnostic a 100 TB job runs BEFORE a keyed join to
    * decide between plain shuffle, AQE skew split, and salting (j12 is
    * the cure; this is the test that prescribes it). One
    * map-side-combined count per key, then a distributed top-n; the
    * mean arrives as a broadcast one-row aggregate, so nothing here
    * ever materializes the key histogram on the driver.
    */
  val dq6KeySkew = Q(
    "dq6_key_skew",
    (s, dir) => {
      val counts = Tables(s, dir, "lineitem")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(
        count(lit(1)).as("__n_keys"),
        sum(col("cnt")).as("__total"))
      counts.crossJoin(broadcast(stats))
        .withColumn("mean_cnt",
          round(col("__total").cast("double") / col("__n_keys"), 9))
        .withColumn("skew_ratio", round(col("cnt").cast("double") / col("mean_cnt"), 9))
        .select(col("l_suppkey"), col("cnt"), col("mean_cnt"), col("skew_ratio"))
        .orderBy(col("skew_ratio").desc, col("l_suppkey"))
        .limit(10)
    },
    Some("""
      WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
      s AS (SELECT count(*) AS n_keys, sum(cnt) AS total FROM c),
      r AS (SELECT l_suppkey, cnt,
              round(total::DOUBLE / n_keys, 9) AS mean_cnt,
              round(cnt::DOUBLE / round(total::DOUBLE / n_keys, 9), 9) AS skew_ratio
            FROM c CROSS JOIN s)
      SELECT l_suppkey, cnt, mean_cnt, skew_ratio FROM r
      ORDER BY skew_ratio DESC, l_suppkey LIMIT 10
    """.trim))

  /** IVF index maintenance: split the two largest coarse lists by a
    * deterministic 2-seed reassignment (seeds = min/max-id members,
    * cosine-nearer wins, ties to seed 1) — the rebalance a drifting
    * corpus needs before hot lists turn probes into scans. See
    * [[Similarity.ivfRebalanceSplit]]; same trained centroid model as
    * the persisted serving tier, so the oracle replays the trained
    * chain + spill-2 assignment the index build ran.
    */
  val annIvfRebalance = Q(
    "ann_ivf_rebalance",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val idxDir = Extensions.ensureIvfInt8Index(s, dir)
      Similarity.ivfRebalanceFromAssignments(s,
          s.read.parquet(idxDir).select(col("vec_id"), col("list").as("cluster")),
          emb, "vec_id", "embedding", nSplit = 2)
        .orderBy(col("cid"), col("sub"))
    },
    Some(s"""
      WITH ${Fragments.sqlInt8RecCtes},
      ${Fragments.sqlTrainedCentCtes},
      corp_a AS (
        SELECT vec_id, cid FROM (
          SELECT e.vec_id, t.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${Fragments.sqlCos("e.embedding", "t.cv")} DESC, t.cid) AS rn
          FROM rec e, cent t)
        WHERE rn <= ${Extensions.ServingSpill}),
      sizes AS (SELECT cid, count(*) AS n_before FROM corp_a GROUP BY cid),
      hot AS (SELECT cid, n_before FROM sizes ORDER BY n_before DESC, cid LIMIT 2),
      m AS (SELECT c.vec_id, e.embedding, c.cid, h.n_before
            FROM corp_a c JOIN hot h USING (cid)
            JOIN embeddings e ON e.vec_id = c.vec_id),
      seeds AS (SELECT cid, min(vec_id) AS s1, max(vec_id) AS s2 FROM m GROUP BY cid),
      sv AS (SELECT s.cid, a.embedding AS v1, b.embedding AS v2 FROM seeds s
             JOIN embeddings a ON a.vec_id = s.s1
             JOIN embeddings b ON b.vec_id = s.s2),
      asg AS (SELECT m.cid, m.n_before, m.vec_id,
                CASE WHEN ${Fragments.sqlCos("m.embedding", "sv.v1")} >=
                          ${Fragments.sqlCos("m.embedding", "sv.v2")}
                     THEN 0 ELSE 1 END AS sub
              FROM m JOIN sv ON sv.cid = m.cid)
      SELECT cid, n_before, sub::BIGINT AS sub, count(*) AS n_members
      FROM asg GROUP BY cid, n_before, sub ORDER BY cid, sub
    """.trim))

  /** Shard manifest: assign every document to one of 16 hash shards
    * (md5 of the id — stable under corpus growth, unlike round-robin)
    * and report per-shard doc/token/byte totals — the balance check a
    * training job runs before writing N equal shards for the data
    * loader. One scan + one 16-group aggregate; the manifest is what a
    * writer would pass to `repartitionByRange`/`partitionBy`, and at
    * 100 TB the balance numbers ARE the job plan (a skewed shard is a
    * straggling trainer).
    */
  val q59ShardManifest = Q(
    "q59_shard_manifest",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      docs
        .withColumn("shard",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 16)
        .withColumn("__tok", size(TextOps.words(col("text"))).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__tok")).as("n_tokens"),
          sum(col("n_chars")).as("n_bytes"))
        .orderBy(col("shard"))
    },
    Some(s"""
      WITH d AS (SELECT doc_id, n_chars,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16 AS shard,
                   len(${Fragments.NormW})::BIGINT AS tok
                 FROM documents)
      SELECT shard, count(*) AS n_docs, sum(tok)::BIGINT AS n_tokens,
             sum(n_chars)::BIGINT AS n_bytes
      FROM d GROUP BY shard ORDER BY shard
    """.trim))

  /** Dedup-propose evaluation: precision/recall of the MinHash band
    * candidate generator against exact ground truth — the eval harness
    * applied to the dedup tier itself. Band recall is the number a
    * pipeline tunes rows/bands against; precision here is PROPOSE
    * precision (how much the exact verify stage must filter), the cost
    * knob of every propose-then-verify design.
    *
    * The ground truth is computed on a deterministic md5-SYSTEMATIC doc
    * sample (q22 discipline; `sample_rate` is carried in the output
    * row): exact pairwise Jaccard inside a metadata bucket like `lang`
    * is unbounded under corpus skew (~half a web corpus is one
    * language), so at 100 TB the truth side of an eval must ride a
    * bounded sample — the standard eval design (estimate recall on a
    * slice, never enumerate all true pairs). Proposed pairs are
    * restricted SCAN-SIDE to the same sample (both endpoints in-sample,
    * a filter — no join), so precision/recall are measured on a
    * consistent sub-population and are unbiased estimators of the
    * full-corpus numbers. One full-outer join of two bounded pair
    * frames + a one-row aggregate.
    */
  val evalDedupQuality = Q(
    "eval_dedup_quality",
    (s, dir) => {
      val docs = Fragments.augmentedDocs(s, dir, perturb = true)
      val m = 2 // 1-in-m systematic doc sample for the truth slice
      val inSample = (c: org.apache.spark.sql.Column) =>
        Dedup.hash32(c.cast("string")) % m === 0
      val truth = Dedup.ngramJaccardPairs(
          docs.filter(inSample(col("doc_id"))),
          "doc_id", "text", "lang", threshold = 0.5)
        .select(col("doc_a"), col("doc_b")).withColumn("__t", lit(1L))
      // propose from the ingest-staged band index (r16): equal to the
      // live minhashCandidatePairs pair-for-pair (the spec-pinned
      // indexCandidatePairs contract the cluster family already serves
      // from); the eval should price the PROPOSE QUALITY, not re-pay
      // the corpus shingling the ingest pass already did
      val proposed = Dedup.indexCandidatePairs(
          s.read.parquet(graft.queries.Breadth20.ensureAugBandIndex(s, dir)),
          "doc_id")
        .filter(inSample(col("doc_a")) && inSample(col("doc_b")))
        .withColumn("__p", lit(1L))
      truth.join(proposed, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          sum(coalesce(col("__t"), lit(0L))).as("n_truth"),
          sum(coalesce(col("__p"), lit(0L))).as("n_proposed"),
          sum(coalesce(col("__t"), lit(0L)) * coalesce(col("__p"), lit(0L))).as("n_hit"))
        .withColumn("precision",
          when(col("n_proposed") === 0, lit(0.0))
            .otherwise(round(col("n_hit").cast("double") / col("n_proposed"), 9)))
        .withColumn("recall",
          when(col("n_truth") === 0, lit(0.0))
            .otherwise(round(col("n_hit").cast("double") / col("n_truth"), 9)))
        .withColumn("sample_rate", lit(1.0 / m))
    },
    Some(s"""
      WITH ${Fragments.minhashPairsCtes},
      tn AS (SELECT doc_id, lang, ${Fragments.NormW} AS w FROM aug
             WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 2 = 0),
      tsh AS (SELECT doc_id, lang,
                list_distinct(list_transform(range(len(w) - 2),
                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
              FROM tn WHERE len(w) >= 3),
      tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
               len(a.s) + len(b.s) AS tot
             FROM tsh a JOIN tsh b ON a.lang = b.lang AND a.doc_id < b.doc_id),
      truth AS (SELECT doc_a, doc_b FROM tp
                WHERE inter::DOUBLE / (tot - inter) >= 0.5),
      sp AS (SELECT doc_a, doc_b FROM pairs
             WHERE ('0x' || substr(md5(doc_a::VARCHAR), 1, 8))::BIGINT % 2 = 0
               AND ('0x' || substr(md5(doc_b::VARCHAR), 1, 8))::BIGINT % 2 = 0),
      m AS (SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS t,
                   CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS p
            FROM truth t FULL OUTER JOIN sp p
              ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
      c AS (SELECT sum(t)::BIGINT AS n_truth, sum(p)::BIGINT AS n_proposed,
                   sum(t * p)::BIGINT AS n_hit
            FROM m)
      SELECT n_truth, n_proposed, n_hit,
             CASE WHEN n_proposed = 0 THEN 0.0::DOUBLE
                  ELSE round(n_hit::DOUBLE / n_proposed, 9) END AS precision,
             CASE WHEN n_truth = 0 THEN 0.0::DOUBLE
                  ELSE round(n_hit::DOUBLE / n_truth, 9) END AS recall,
             0.5::DOUBLE AS sample_rate
      FROM c ORDER BY n_truth
    """.trim))

  /** Weekly retention cohorts — the classic event-pipeline matrix:
    * cohort = the ISO-agnostic week of a user's FIRST event (days
    * since the corpus epoch ÷ 7, deterministic in both engines);
    * retention(c, k) = distinct cohort-c users active in week c+k,
    * as a fraction of the cohort. Two user-keyed aggregates (first
    * event, then distinct-per-cell) — both map-side-combining; the
    * cohort-size join is over a handful of rows. At 100 TB the only
    * corpus-scale shuffle is the user key, which sessionization and
    * the funnel already cluster by.
    */
  val q60RetentionCohorts = Q(
    "q60_retention_cohorts",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts").cast("timestamp")).as("__d"))
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("__d")).as("__first"))
        .withColumn("cohort_week",
          floor(datediff(col("__first"), lit("2024-01-01").cast("date")) / 7).cast("long"))
      val cells = ev.join(first, "user_id")
        .withColumn("week_no", floor(datediff(col("__d"), col("__first")) / 7).cast("long"))
        .groupBy(col("cohort_week"), col("week_no"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      val sizes = cells.filter(col("week_no") === 0)
        .select(col("cohort_week"), col("n_active").as("__cohort_size"))
      cells.join(broadcast(sizes), "cohort_week")
        .withColumn("retention",
          round(col("n_active").cast("double") / col("__cohort_size"), 9))
        .select(col("cohort_week"), col("week_no"), col("n_active"), col("retention"))
        .orderBy(col("cohort_week"), col("week_no"))
    },
    Some("""
      WITH e AS (SELECT user_id, ts::DATE AS d FROM events),
      f AS (SELECT user_id, min(d) AS first_d FROM e GROUP BY user_id),
      fc AS (SELECT user_id, first_d,
               (date_diff('day', DATE '2024-01-01', first_d) // 7)::BIGINT AS cohort_week
             FROM f),
      cells AS (SELECT cohort_week,
                  (date_diff('day', first_d, d) // 7)::BIGINT AS week_no,
                  count(DISTINCT e.user_id) AS n_active
                FROM e JOIN fc ON e.user_id = fc.user_id
                GROUP BY 1, 2),
      sz AS (SELECT cohort_week, n_active AS cohort_size FROM cells WHERE week_no = 0)
      SELECT cohort_week, week_no, n_active,
             round(n_active::DOUBLE / cohort_size, 9) AS retention
      FROM cells JOIN sz USING (cohort_week)
      ORDER BY cohort_week, week_no
    """.trim))

  /** Last-touch attribution: each purchase's value is attributed to
    * the most recent preceding click/view by the same user ('direct'
    * when none) — the j5 last-prior window generalized from one
    * source type to a touch-type report. ONE user-keyed window pass
    * carries the running last-touch state; the revenue report is a
    * 3-row aggregate (DECIMAL(18,3), the events-value idiom).
    */
  val q61Attribution = Q(
    "q61_attribution",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "events")
        .withColumn("touch",
          last(when(col("event_type").isin("click", "view"), col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("touch", coalesce(col("touch"), lit("direct")))
        .groupBy(col("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 3))).cast("double").as("attributed_value"))
        .orderBy(col("touch"))
    },
    Some("""
      WITH p AS (
        SELECT event_id, event_type, value,
               coalesce(last_value(CASE WHEN event_type IN ('click', 'view')
                          THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 'direct') AS touch
        FROM events)
      SELECT touch, count(*) AS n_purchases,
             CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS attributed_value
      FROM p WHERE event_type = 'purchase'
      GROUP BY touch ORDER BY touch
    """.trim))

  /** Association mining (market-basket): part pairs co-occurring in
    * ≥ 2 orders, with support, confidence(a→b) and lift — the
    * frequent-itemset k=2 pass every recommendation bootstrap runs.
    * The pair listing is per-basket combination generation (baskets
    * are bounded — ~7 lineitems per order — so the O(k²) term is a
    * constant per order, the scale-safe shape); part marginals join
    * back onto the surviving pairs through SHUFFLED hash joins keyed
    * on the pair columns — the marginal frame is one row per distinct
    * part, which at catalog scale (hundreds of millions of SKUs /
    * vocabulary-sized token sets) is not broadcastable, and the
    * surviving-pair frame is already support-pruned so the shuffle is
    * small. Only the one-row order count broadcasts. Confidence/lift
    * are exact integer ratios rounded once.
    */
  val q62BasketPairs = Q(
    "q62_basket_pairs",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val nOrders = li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("__n_orders"))
      val partCounts = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("__cnt"))
      val baskets = li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("__ps"))
        .filter(size(col("__ps")) >= 2)
      val pairs = baskets.select(explode(expr(
          """flatten(transform(__ps, (a, i) ->
               transform(slice(__ps, i + 2, size(__ps)), b ->
                 struct(a AS part_a, b AS part_b))))""")).as("__p"))
        .select(col("__p.part_a"), col("__p.part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_orders_both"))
        .filter(col("n_orders_both") >= 2)
      pairs
        .join(partCounts.select(col("l_partkey").as("part_a"),
          col("__cnt").as("__ca")).hint("shuffle_hash"), "part_a")
        .join(partCounts.select(col("l_partkey").as("part_b"),
          col("__cnt").as("__cb")).hint("shuffle_hash"), "part_b")
        .crossJoin(broadcast(nOrders))
        .withColumn("support",
          round(col("n_orders_both").cast("double") / col("__n_orders"), 9))
        .withColumn("confidence",
          round(col("n_orders_both").cast("double") / col("__ca"), 9))
        .withColumn("lift", round(col("n_orders_both").cast("double") *
          col("__n_orders") / (col("__ca") * col("__cb")), 9))
        .select(col("part_a"), col("part_b"), col("n_orders_both"),
          col("support"), col("confidence"), col("lift"))
        .orderBy(col("part_a"), col("part_b"))
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
      pc AS (SELECT l_partkey, count(*) AS cnt FROM li GROUP BY l_partkey),
      p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS n_orders_both
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2)
      SELECT part_a, part_b, n_orders_both,
             round(n_orders_both::DOUBLE / n.n_orders, 9) AS support,
             round(n_orders_both::DOUBLE / ca.cnt, 9) AS confidence,
             round(n_orders_both::DOUBLE * n.n_orders / (ca.cnt * cb.cnt), 9) AS lift
      FROM p
      JOIN pc ca ON ca.l_partkey = p.part_a
      JOIN pc cb ON cb.l_partkey = p.part_b
      CROSS JOIN n
      ORDER BY part_a, part_b
    """.trim))

  /** ANN-recall evaluation: per-query recall@5 of the TRAINED serving
    * tier (two-round-Lloyd coarse quantizer, spill=2 multi-assignment,
    * nprobe=`ServingNprobe` — the exact configuration the persisted
    * int8/IVF-PQ indexes serve with) against the exact cosine ranker —
    * the eval harness closing its fourth loop (retrieval, classifier,
    * dedup, and now the vector index). This serve is FULL-PRECISION
    * IVF (`ivfTopK`), so what it measures is coarse-quantizer
    * COVERAGE — whether a true neighbor's list gets probed — not PQ
    * distortion (that has its own eval, `eval_pq_recall`). r10
    * training + spilling lifted mean recall@5 0.34→0.58 at sf0.1;
    * r11's 3× finer cells with nprobe scaled in lockstep (scanned
    * fraction UNCHANGED at ~9 %) lifted it 0.58→0.75 (0.76→0.88 at
    * sf0.01) — the gap was cell granularity, not quantization.
    * Round10Spec pins the floor. Both rankers are existing operators;
    * the comparison is a (query, neighbor) semi join over ≤ q×5 rows.
    */
  val evalAnnRecall = Q(
    "eval_ann_recall",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = Fragments.annQueries(emb)
      val exact = Similarity.bruteForceTopK(s, emb, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(s, emb, queries,
          Extensions.servingCentroids(s, dir),
          "vec_id", "embedding", "cid", "cv", k = 5, nprobe = Extensions.ServingNprobe,
          spill = Extensions.ServingSpill)
        .select(col("query_id"), col("neighbor_id"))
      Fragments.recallAt5(exact, approx)
    },
    Some(s"""
      WITH ${Fragments.sqlExactPairsCtes("ep")},
      ${Fragments.sqlRankCte("exact", "ep", 5)},
      ${Fragments.sqlServeApproxCtes(Extensions.ServingSpill, Extensions.ServingNprobe, 5)}
      ${Fragments.RecallSelect}
      FROM exact e LEFT JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
      ORDER BY e.query_id
    """.trim))

  def all: Seq[Q] = Seq(evalRetrievalMetrics, annBinaryTopk, q58WeightedSample,
    evalQualityConfusion, evalModelCalibration, srcXmlRoundtrip,
    u11CdcApply, srcSchemaEvolution, w6ValueFunctions, dedupContainment,
    evalLangidConfusion, dq6KeySkew, annIvfRebalance, q59ShardManifest,
    evalDedupQuality, q60RetentionCohorts, q61Attribution, q62BasketPairs,
    evalAnnRecall)
}
