package graft.queries

import graft.etl.Tables
import org.apache.spark.sql.functions._

/** Round-11 third wave: forensic data quality (Benford), behavioral
  * path mining, bloom-prefiltered semi joins, and mergeable uniform
  * sampling — each a shape the registry lacked.
  */
object Breadth12 {

  /** Benford expected first-digit frequencies log10(1 + 1/d), generated
    * ONCE in Scala and spliced as literals into both engines (the
    * seed-constant discipline of the MinHash family) — neither engine's
    * libm log10 is trusted at runtime.
    */
  private val benfordExp: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** Benford's-law first-digit audit over order totals — the forensic
    * DQ axis (fabricated or truncated monetary data deviates from the
    * log-digit law long before a range or drift check fires). Digits
    * come from exact integer cents (`floor(price·100)` → BIGINT →
    * first character), never from float formatting; expected
    * frequencies are Scala-generated literals shared by both engines;
    * the chi-square contribution per digit is the audit column a
    * forensic reviewer ranks by. The synthetic uniform-ish prices do
    * NOT follow Benford — the report SHOWS that (large chi2), which is
    * the point of an audit op: it reports conformance, it does not
    * assume it. One map-side-combined 9-group aggregate + a one-row
    * broadcast total: scan-shaped at any corpus size.
    */
  val dq10Benford = Q(
    "dq10_benford",
    (s, dir) => {
      val cents = Tables(s, dir, "orders")
        .select(floor(col("o_totalprice") * 100).cast("long").as("__c"))
        .filter(col("__c") > 0)
        .select(substring(col("__c").cast("string"), 1, 1).cast("int").as("digit"))
      val counts = cents.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("__tot"))
      val expCol = benfordExp.tail.foldLeft(
        when(col("digit") === benfordExp.head._1, lit(benfordExp.head._2))) {
        case (acc, (d, e)) => acc.when(col("digit") === d, lit(e))
      }
      counts.crossJoin(broadcast(total))
        .withColumn("exp_freq", round(expCol, 9))
        .withColumn("obs_freq", round(col("n").cast("double") / col("__tot"), 9))
        .withColumn("chi2_term", round(
          (col("n") - col("exp_freq") * col("__tot")) *
            (col("n") - col("exp_freq") * col("__tot")) /
            (col("exp_freq") * col("__tot")), 9))
        .select(col("digit").cast("long").as("digit"), col("n"),
          col("obs_freq"), col("exp_freq"), col("chi2_term"))
        .orderBy(col("digit"))
    },
    Some {
      val cases = benfordExp.map { case (d, e) =>
        s"WHEN digit = $d THEN $e" }.mkString(" ")
      s"""
      WITH c AS (SELECT substr((floor(o_totalprice * 100)::BIGINT)::VARCHAR, 1, 1)::INT AS digit
                 FROM orders WHERE floor(o_totalprice * 100)::BIGINT > 0),
      g AS (SELECT digit, count(*)::BIGINT AS n FROM c GROUP BY digit),
      t AS (SELECT sum(n)::BIGINT AS tot FROM g),
      e AS (SELECT digit, n, tot,
              round((CASE $cases END)::DOUBLE, 9) AS exp_freq FROM g, t)
      SELECT digit::BIGINT AS digit, n,
             round(n::DOUBLE / tot, 9) AS obs_freq, exp_freq,
             round((n - exp_freq * tot) * (n - exp_freq * tot)
                   / (exp_freq * tot), 9) AS chi2_term
      FROM e ORDER BY digit
      """.trim
    })

  /** Top behavioral paths: every 3-step event-type sequence per user
    * (the exploratory complement of the prescribed-path funnel and the
    * 1st-order transition matrix — 2nd-order structure shows up here
    * first), with global counts and rates. One user-keyed window pass
    * (two leads under the same tie-broken ordering as
    * `q63_event_transitions`) then a k³-bounded aggregate — the path
    * alphabet is event types, so the aggregated frame never scales
    * with the corpus and the rate normalization is a one-row broadcast.
    */
  val q65PathTrigrams = Q(
    "q65_path_trigrams",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tri = Tables(s, dir, "events")
        .withColumn("__e2", lead(col("event_type"), 1).over(w))
        .withColumn("__e3", lead(col("event_type"), 2).over(w))
        .filter(col("__e3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("__e2").as("step2"),
          col("__e3").as("step3"))
        .agg(count(lit(1)).as("n"))
      val total = tri.agg(sum(col("n")).as("__tot"))
      tri.crossJoin(broadcast(total))
        .withColumn("rate", round(col("n").cast("double") / col("__tot"), 9))
        .select(col("step1"), col("step2"), col("step3"), col("n"), col("rate"))
        .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
    },
    Some("""
      WITH s AS (SELECT user_id, event_type AS step1,
                   lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
                   lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
                 FROM events),
      g AS (SELECT step1, step2, step3, count(*)::BIGINT AS n
            FROM s WHERE step3 IS NOT NULL GROUP BY 1, 2, 3),
      t AS (SELECT sum(n)::BIGINT AS tot FROM g)
      SELECT step1, step2, step3, n, round(n::DOUBLE / tot, 9) AS rate
      FROM g, t ORDER BY n DESC, step1, step2, step3
    """.trim))

  /** Bloom-prefiltered semi join — THE shuffle reducer for a selective
    * fact-to-fact semi join at 100 TB: the build side (big orders)
    * aggregates into one bloom filter (`bloom_filter_agg`, a mergeable
    * map-side-combinable sketch), which broadcasts and prunes the probe
    * scan BEFORE the shuffle — only `might_contain` survivors (true
    * matches + the bloom's false-positive rate) pay the exchange, and
    * the exact semi join afterwards removes the false positives, so
    * the RESULT is bit-identical to the plain semi join the oracle
    * runs while the shuffled volume drops to ~selectivity·corpus.
    * (Spark's own runtime bloom injection targets the same shape; this
    * op makes the technique explicit and testable.) The final
    * aggregate rides the engine-wide exact-decimal money discipline.
    */
  val j14BloomSemi = Q(
    "j14_bloom_semi",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      // might_contain requires its bloom side to be a CONSTANT or a
      // scalar subquery (checked at analysis) — the same contract
      // Spark's own runtime-filter rewrite emits — so the op is
      // expressed in SQL where the scalar subquery exists
      Tables(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey")).createOrReplaceTempView("__j14_big")
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice")).createOrReplaceTempView("__j14_li")
      s.sql("""
        SELECT l_returnflag, count(*) AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM __j14_li
        WHERE graft_might_contain(
                (SELECT graft_bloom_agg(xxhash64(o_orderkey), 100000L, 800000L)
                 FROM __j14_big),
                xxhash64(l_orderkey))
          AND l_orderkey IN (SELECT o_orderkey FROM __j14_big)
        GROUP BY l_returnflag ORDER BY l_returnflag
      """)
    },
    Some("""
      SELECT l_returnflag, count(*)::BIGINT AS n_items,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
      GROUP BY l_returnflag ORDER BY l_returnflag
    """.trim))

  /** Mergeable bottom-k uniform sample — the distributed, deterministic
    * replacement for reservoir sampling: the k records with the
    * smallest md5(id) ARE a uniform k-sample (the hash is the random
    * tape), and bottom-k is a MERGEABLE statistic — per-shard bottom-k
    * sets union-then-truncate to the exact global answer (the
    * CMS/HLL/k-means merge-is-cheap argument, spec-pinned), so a
    * 100 TB corpus samples with one TakeOrdered tree-reduction and no
    * global sort. The md5 key ships in the output so downstream merges
    * need no rehash.
    */
  val sampleBottomkMerge = Q(
    "sample_bottomk_merge",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("sample_key"))
        .orderBy(col("sample_key"))
        .limit(64),
    Some("""
      SELECT doc_id, md5(doc_id::VARCHAR) AS sample_key
      FROM documents ORDER BY sample_key LIMIT 64
    """.trim))

  /** The dedup FUNNEL report — what a corpus owner actually reads
    * after a dedup run: per stage, rows in / removed / surviving. The
    * cascade is the production ordering (cheap exact hash first, the
    * near-dup propose only over its survivors — every row exact dedup
    * kills is a row MinHash never pays for), and the fixture gives
    * both stages real work (an exact-copy replica for stage 1, the
    * xx-perturbed near-dup replica for stage 2). Counts come from
    * three one-row aggregates stacked into the report frame — the
    * corpus is scanned once per stage, nothing collects. The oracle
    * replays the identical chain (exact-hash keep → SAME minhash CTE
    * chain over the survivor CTE → recursive-CTE components).
    */
  val pipelineDedupCascade = Q(
    "pipeline_dedup_cascade",
    (s, dir) => {
      import graft.ext.Dedup
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = d
        .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("xx "), col("text")).as("text")))
        .unionByName(d.select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      // NOTE (r16): a lazy checkpoint of keep1 was tried to stop the
      // exact-hash aggregate re-running per consumer and REVERTED — the
      // stats-free LogicalRDD demoted the docs ⋈ keep1 join from
      // broadcast to shuffle, moving corpus text through an exchange
      // (measured 2.85 -> 3.37 s calib-normalized; guide §3.1: the
      // broadcast decision rides size estimates a checkpoint erases)
      val keep1 = Dedup.exact(docs, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val surv = docs.join(keep1, "doc_id")
      val pairs = Dedup.minhashCandidatePairs(surv, "doc_id", "text")
      val cl = Dedup.clusterAssignment(surv, pairs, "doc_id")
      val n0 = docs.agg(count(lit(1)).as("n0"))
      val n1 = surv.agg(count(lit(1)).as("n1"))
      val n2 = cl.agg(countDistinct(col("cluster_id")).as("n2"))
      n0.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .selectExpr("stack(2, '1_exact', n0, n0 - n1, n1, " +
          "'2_near', n1, n1 - n2, n2) AS (stage, n_in, n_removed, n_out)")
        .orderBy(col("stage"))
    },
    Some(s"""
      WITH RECURSIVE aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 100000, 'xx ' || text FROM documents
        UNION ALL SELECT doc_id + 200000, text FROM documents),
      keep1 AS (SELECT min(doc_id) AS doc_id FROM aug
                GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
      surv AS (SELECT aug.* FROM aug JOIN keep1 USING (doc_id)),
      ${Fragments.minhashChainFrom("surv")},
      ${Fragments.sqlComponentCtes("pairs")},
      cl AS (SELECT sv.doc_id,
                    coalesce(least(c.mn, sv.doc_id), sv.doc_id) AS cluster_id
             FROM surv sv LEFT JOIN comp c USING (doc_id)),
      n0 AS (SELECT count(*)::BIGINT AS n0 FROM aug),
      n1 AS (SELECT count(*)::BIGINT AS n1 FROM surv),
      n2 AS (SELECT count(DISTINCT cluster_id)::BIGINT AS n2 FROM cl)
      SELECT * FROM (
        SELECT '1_exact' AS stage, n0 AS n_in, n0 - n1 AS n_removed, n1 AS n_out
        FROM n0, n1
        UNION ALL
        SELECT '2_near', n1, n1 - n2, n2 FROM n1, n2)
      ORDER BY stage
    """.trim))

  /** Link prediction over the part-supplier bipartite graph: for every
    * supplier pair sharing ≥ 1 part, the common-neighbor count, the
    * neighbor-set Jaccard, and the resource-allocation index
    * Σ 1/fan(part) — RA rather than Adamic-Adar's Σ 1/log(fan)
    * deliberately: no runtime libm in the score, so the decimal-sum
    * discipline keeps it engine-exact. The propose is the inverted-
    * index shape every pair family here rides (join postings on the
    * shared part, never supplier×supplier), and parts above a LOUD
    * fan-out cap are excluded by contract in BOTH engines — a
    * commodity part every supplier carries is the posting-list
    * stopword of this graph, quadratic in fan-out and zero signal,
    * the same economics as containment's maxDf.
    */
  /** Ingest-staged link-prediction postings: the distinct fan-capped
    * (part, supplier) projection of lineitem, built once per corpus
    * (the `ensureTfidfPostings` recipe — r13's slowest query rebuilt
    * this propose in-query; every other pair family serves from an
    * ingest artifact).
    */
  def ensureLinkPostings(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "graph_link_postings") { d =>
      graft.ext.GraphOps.linkPostings(Tables(s, dir, "lineitem"),
        "l_partkey", "l_suppkey", maxFan = 64).write.parquet(d)
    }

  val graphLinkPredict = Q(
    "graph_link_predict",
    (s, dir) =>
      graft.ext.GraphOps.linkPredictFromPostings(
          s.read.parquet(ensureLinkPostings(s, dir)))
        .select(col("node_a").as("supp_a"), col("node_b").as("supp_b"),
          col("common").as("common_parts"), col("jaccard"), col("ra_index"))
        .orderBy(col("supp_a"), col("supp_b")),
    Some("""
      WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      deg AS (SELECT l_partkey, count(*)::BIGINT AS fan FROM ps GROUP BY 1),
      kept AS (SELECT ps.l_partkey, ps.l_suppkey, deg.fan
               FROM ps JOIN deg USING (l_partkey) WHERE fan <= 64),
      pr AS (SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
               count(*)::BIGINT AS common_parts,
               sum(CAST(round(1.0::DOUBLE / a.fan, 9) AS DECIMAL(27, 9)))::DOUBLE
                 AS ra_index
             FROM kept a JOIN kept b
               ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
             GROUP BY 1, 2),
      sd AS (SELECT l_suppkey, count(*)::BIGINT AS nd FROM kept GROUP BY 1)
      SELECT supp_a, supp_b, common_parts,
             round(common_parts::DOUBLE / (na.nd + nb.nd - common_parts), 9)
               AS jaccard,
             ra_index
      FROM pr JOIN sd na ON pr.supp_a = na.l_suppkey
              JOIN sd nb ON pr.supp_b = nb.l_suppkey
      ORDER BY supp_a, supp_b
    """.trim))

  val all: Seq[Q] = Seq(dq10Benford, q65PathTrigrams, j14BloomSemi,
    sampleBottomkMerge, pipelineDedupCascade, graphLinkPredict)
}
