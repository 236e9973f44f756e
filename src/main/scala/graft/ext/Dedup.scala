package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorExpressions

/** Deduplication operators for large-scale text corpora (north-star
  * extension surface, SURVEY.md §7.5).
  *
  * Design notes for 100 TB:
  *  - exact dedup is a hash-groupBy: one shuffle on a 128-bit content
  *    hash, map-side partial agg keeps it small;
  *  - MinHash/LSH: signatures are computed scan-side (no shuffle), then
  *    candidate generation shuffles once on the band key — the classic
  *    shingle → minhash → band → bucket-join pipeline. Only bucket
  *    collisions are joined; the O(n²) comparison never materializes;
  *  - n-gram Jaccard comes in two bucketings: a metadata bucket
  *    ([[ngramJaccardPairs]], e.g. `lang` — fine when every bucket is
  *    known-bounded) and the scale path [[ngramJaccardPairsLsh]], whose
  *    bucket is a MinHash band — expected bucket size is set by the
  *    signature parameters, independent of corpus skew;
  *  - all hashing is md5-derived (not Spark's murmur `hash`) so results
  *    are portable across engines and stable across Spark versions;
  *  - each per-document expression is evaluated once per document. A
  *    derived column that a filter reads is added with
  *    [[withColumnOnce]] (Catalyst otherwise copies the expression
  *    into the pushed-down filter and runs it twice), and a result read
  *    by several consumers is materialized lazily, as [[exact]]'s
  *    aggregate is, so each consumer does not recompute it.
  */
object Dedup {

  private val log = org.apache.log4j.Logger.getLogger(getClass)

  /** Prime > 2^32 for the universal-hash family h_i(x) = (a_i x + b_i)
    * mod p. Single source of truth is [[graft.functions.MinHashSig]] —
    * the fused expression and the DuckDB oracle generator must agree.
    */
  val HashPrime: Long = graft.functions.MinHashSig.HashPrime
  val SeedsA: Seq[Long] = graft.functions.MinHashSig.SeedsA.toSeq
  val SeedsB: Seq[Long] = graft.functions.MinHashSig.SeedsB.toSeq

  /** Whitespace-collapsed, trimmed, lowercased text. */
  def normText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** Portable 32-bit hash: first 8 hex digits of md5 as an unsigned long.
    * Built-in-only reference formulation; the hot paths use the
    * codegen'd [[VectorExpressions.md5Hash32]] (same values, no hex round-trip — see
    * [[graft.functions.Md5Hash32]] and the equality test in ExtOpsSpec).
    */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** `df` plus the column `name` = `e`, evaluated once per row whatever
    * reads it. A `withColumn` alias is substituted into every filter
    * Catalyst pushes below it and into every projection collapsed onto
    * it, so a per-document kernel runs once per reference; here it is
    * the output of a one-element `explode(array(e))` — a `Generate`,
    * which keeps predicates on its output above it (predicates on the
    * input columns are still pushed below). Same rows, and the column's
    * type and nullability are `e`'s. `name` must be new to `df`.
    */
  private[graft] def withColumnOnce(df: DataFrame, name: String, e: Column): DataFrame = {
    require(!df.columns.contains(name), s"withColumnOnce: $name is already a column")
    df.select(col("*"), explode(array(e)).as(name))
  }

  /** Exact dedup: group by content hash, keep the smallest id.
    * One shuffle; at 100 TB this is the cheapest possible dedup.
    * Materialized lazily: the first action runs the hash aggregate and
    * every later read of the result (the survivors feed pair search,
    * clustering and scoring) reuses its blocks instead of hashing the
    * corpus again. The blocks go to local disk: one row per distinct
    * document is cheap to read back, and in memory the blocks were
    * still on the driver heap after the query in local mode (+0.5 MB
    * retained at 10k documents).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(normText(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .localCheckpoint(eager = false, StorageLevel.DISK_ONLY)

  /** Adds the `__words` column and drops docs with fewer than k words —
    * the shared scan-side stem of every shingle-based op. The split
    * runs once per doc ([[withColumnOnce]]), not again in the filter.
    */
  def withWords(df: DataFrame, textCol: String, k: Int): DataFrame =
    withColumnOnce(df, "__words", split(normText(col(textCol)), " "))
      .filter(size(col("__words")) >= k)

  /** Adds `__words` / `__shingles` columns (k-word shingles); drops docs
    * with fewer than k words. Reference HOF formulation — the hot paths
    * use [[graft.functions.ShingleHashes]] (same values, one codegen'd
    * pass, no shingle-string column; equality held by ExtOpsSpec).
    */
  def withShingles(df: DataFrame, textCol: String, k: Int = 3): DataFrame = {
    val sh = (0 until k).map(j => s"__words[i+$j]").mkString(", ")
    withWords(df, textCol, k)
      .withColumn("__shingles",
        expr(s"transform(sequence(0, size(__words)-$k), i -> concat_ws(' ', $sh))"))
  }

  /** withWords plus portable 32-bit shingle hashes (`__hashes`) — the
    * md5-derived family the MinHash signatures are built on, fused into
    * one codegen'd pass.
    */
  def withShingleHashes(df: DataFrame, textCol: String, k: Int = 3): DataFrame = {
    withWords(df, textCol, k)
      .withColumn("__hashes", VectorExpressions.shingleHashes32(col("__words"), k))
  }

  /** MinHash signature over `__hashes` — reference HOF formulation, kept
    * for the equality test against the fused [[VectorExpressions.minhashSig]].
    */
  private[graft] def signatureExprReference: String = {
    val mins = SeedsA.zip(SeedsB).map { case (a, b) =>
      s"array_min(transform(__hashes, h -> ($a * h + $b) % $HashPrime))"
    }
    s"array(${mins.mkString(", ")})"
  }

  /** SQL expression building the array of LSH band keys from `__sig` —
    * shared by the exploded [[minhashBands]] shape and the one-row-per-doc
    * [[buildBandIndex]] shape so both produce identical keys.
    */
  private def bandArrayExpr(rowsPerBand: Int): String = {
    val nBands = SeedsA.length / rowsPerBand
    val bandExprs = (0 until nBands).map { j =>
      val parts = (0 until rowsPerBand)
        .map(r => s"cast(__sig[${j * rowsPerBand + r}] as string)").mkString(", '_', ")
      s"concat('$j:', $parts)"
    }
    s"array(${bandExprs.mkString(", ")})"
  }

  /** (id, band) rows from an ALREADY-SIGNED frame (a `__sig` column of
    * [[SeedsA]].length minhash values) — the banding stage alone,
    * exposed so `eval_lsh_curve` can cut ONE signature computation into
    * every rowsPerBand tier instead of re-shingling per tier.
    */
  def bandsOfSig(sig: DataFrame, idCol: String, rowsPerBand: Int): DataFrame = {
    require(SeedsA.length % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide the ${SeedsA.length}-hash signature")
    sig.select(col(idCol), explode(expr(bandArrayExpr(rowsPerBand))).as("band"))
  }

  /** (id, band) rows: the signature cut into bands of `rowsPerBand`
    * hashes; docs sharing any band key are near-dup candidates.
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      rowsPerBand: Int = 2, k: Int = 3): DataFrame =
    withShingleHashes(df, textCol, k)
      .withColumn("__sig", VectorExpressions.minhashSig(col("__hashes")))
      .select(col(idCol), explode(expr(bandArrayExpr(rowsPerBand))).as("band"))

  /** Near-dup fingerprint INDEX: one row per historical doc carrying its
    * LSH band keys plus the distinct shingle-hash set the verify stage
    * needs — everything an incremental probe requires, so the corpus
    * TEXT is never read again after ingest. This is the dedup analog of
    * the persisted ANN index: at 100 TB you do not re-shingle 100 TB on
    * every re-crawl; you probe the new shard (a few TB) against this
    * table. Index size is O(docs × (8 band strings + distinct 3-gram
    * hashes)) — the hashes dominate at ~4 bytes/word, ~1-2% of text.
    */
  def buildBandIndex(df: DataFrame, idCol: String, textCol: String,
      rowsPerBand: Int = 2, k: Int = 3): DataFrame =
    withShingleHashes(df, textCol, k)
      .withColumn("__sig", VectorExpressions.minhashSig(col("__hashes")))
      .select(col(idCol), expr(bandArrayExpr(rowsPerBand)).as("bands"),
        array_distinct(col("__hashes")).as("hset"))

  /** Incremental near-dedup: probe a NEW shard against a stored
    * fingerprint index. Shard fingerprints are computed scan-side (the
    * only text read), candidates come from one band-key join against the
    * exploded index, and the verify stage computes EXACT distinct-hash
    * Jaccard from the sets both sides already carry. Candidate volume is
    * bounded by band-bucket sizes exactly as in the batch LSH path, and
    * equals the batch pipeline's cross-shard pairs (Round7Spec pins
    * incremental ≡ batch-restricted).
    */
  def probeBandIndex(index: DataFrame, shard: DataFrame, idCol: String,
      textCol: String, threshold: Double, k: Int = 3): DataFrame = {
    val idx = index.select(col(idCol).as("dup_of"),
      col("bands").as("__ba"), col("hset").as("__ha"))
    // shard fingerprints feed both the band join and the verify join —
    // checkpoint so the shingle+minhash pipeline runs once per shard doc
    val sh = buildBandIndex(shard, idCol, textCol, k = k).localCheckpoint()
    val cands = PostingIndex.keyJoin(
        idx.select(col("dup_of"), explode(col("__ba")).as("band")),
        sh.select(col(idCol), explode(col("bands")).as("band")), Seq("band"))
      .select(col("dup_of"), col(idCol)).distinct()
    PostingIndex.verifyJaccard(cands, idx.select(col("dup_of"), col("__ha")),
        sh.select(col(idCol), col("hset")), threshold, "dup_of", idCol)
      .select(col(idCol), col("dup_of"), col("jaccard"))
  }

  /** Incremental near-dup candidate march — the MinHash analog of the
    * exact-dedup keep-state ([[MixOps]]): the standing state is the
    * per-doc fingerprint frame ([[buildBandIndex]] rows — band keys +
    * hash set, the SAME artifact the probe/verify tier persists at
    * ingest), merged across batches by plain union (doc-keyed rows from
    * disjoint batches — trivially associative/commutative), and each
    * arriving delta emits exactly the pairs its docs complete:
    * delta×state via one band join against the standing fingerprints
    * plus delta×delta via the batch-local self-join. Only the DELTA is
    * ever shingled; the state carries no text. The union of per-batch
    * emissions over any batch partition equals the one-shot
    * [[minhashCandidatePairs]] over the full corpus, pair for pair: a
    * pair whose docs land in batches i ≤ j shares its band keys
    * regardless of arrival (signatures are per-doc deterministic), so
    * it is emitted at batch j — cross if i < j (batch i is already in
    * the state), within if i = j — and at no other batch. Pinned
    * bit-equal in Round12Spec for both merge orders; the
    * `dedup_incremental_pairs` oracle replays the ONE-SHOT SQL against
    * the Spark-side march, so the driver gate re-proves the equality
    * every round.
    */
  def minhashPairsOfBatch(state: DataFrame, deltaState: DataFrame,
      idCol: String): DataFrame = {
    val oldB = state.select(col(idCol).as("__dx"), explode(col("bands")).as("band"))
    // the delta's banded rows feed both the cross join and the
    // batch-local self-join — materialize once (tiny: no text)
    val newB = deltaState
      .select(col(idCol).as("__dy"), explode(col("bands")).as("band"))
      .localCheckpoint()
    // The __dx =!= __dy predicate guards the doc-disjointness the march
    // contract assumes: if a doc_id is re-ingested (appears in both
    // state and delta), the band join would otherwise emit degenerate
    // doc_a == doc_b self-pairs the one-shot never produces, silently
    // breaking march == one-shot.
    val cross = PostingIndex.keyJoin(oldB, newB, Seq("band"), col("__dx") =!= col("__dy"))
      .select(least(col("__dx"), col("__dy")).as("doc_a"),
        greatest(col("__dx"), col("__dy")).as("doc_b"))
    val within = PostingIndex.selfJoin(newB, "__dy", Seq("band"))
      .select(col("doc_a"), col("doc_b"))
    cross.unionByName(within).distinct()
  }

  /** LSH candidate pairs: self-join on the band key, ordered ids,
    * distinct. The join key is the band, so the shuffle is on bucket
    * membership — never the full cross product.
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    bandPairs(minhashBands(df, idCol, textCol, k = k), idCol)

  /** Distinct ordered pairs of (id, band) rows sharing a band key. The
    * (id, band) rows are materialized once: the self-join's two sides
    * otherwise re-run the whole shingle+minhash pipeline (their
    * exchanges differ by projection, so ReuseExchange cannot fire), and
    * the banded rows are tiny — no text — while the signature
    * computation is the expensive part.
    */
  private def bandPairs(bands: DataFrame, idCol: String): DataFrame =
    PostingIndex.selfJoin(bands.localCheckpoint(), idCol, Seq("band"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

  /** Batch twin of [[graft.streaming.StreamingOps.streamingNearDedup]]
    * under in-order (ascending-id) arrival: each band bucket proposes
    * the STAR of its minimum doc — pair (band_min, d) for every other
    * member d. That is exactly the pair stream the stateful band
    * processor emits when docs arrive in id order (the canonical only
    * ever starts at the eventual minimum), with the same downstream
    * `distinct` the streaming sink applies. One band shuffle + one
    * band-count aggregate — strictly cheaper than the full candidate
    * self-join, which is why a backfill job uses this shape to seed
    * the streaming state's canonical table.
    */
  def bandStarPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val bands = minhashBands(df, idCol, textCol, k = k).localCheckpoint()
    val mins = bands.groupBy(col("band")).agg(min(col(idCol)).as("doc_a"))
    // stream bands against the per-band min map
    PostingIndex.keyJoin(bands, mins, Seq("band"), col(idCol) =!= col("doc_a"))
      .select(col("doc_a"), col(idCol).as("doc_b"))
      .distinct()
  }

  /** UNVERIFIED candidate pairs from a stored fingerprint index — the
    * propose stage alone: band keys self-join (exploded, ordered ids,
    * distinct), no text access, no verify. Band keys are per-doc
    * (signatures don't depend on the corpus), so this equals
    * [[minhashCandidatePairs]] over the indexed corpus pair-for-pair —
    * which is why a consumer that already persists the index
    * (`ensureDedupIndex`) should probe the artifact instead of
    * re-shingling the corpus in-query (VERDICT r12 item 2).
    */
  def indexCandidatePairs(index: DataFrame, idCol: String): DataFrame =
    bandPairs(index.select(col(idCol), explode(col("bands")).as("band")), idCol)

  /** Batch near-dup pairs computed ENTIRELY from a stored fingerprint
    * index — no text access: band keys propose ([[indexCandidatePairs]]),
    * the stored distinct-hash sets verify with exact Jaccard. This is
    * the periodic full-dedup job once a corpus is indexed — re-running
    * it costs the index scan, never a re-shingle.
    */
  def indexSelfPairs(index: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val sets = index.select(col(idCol), col("hset"))
    PostingIndex.verifyJaccard(indexCandidatePairs(index, idCol), sets, sets, threshold)
  }

  /** Incremental cluster maintenance, attach step: each probed shard doc
    * adopts the MIN cluster label among its verified historical matches;
    * unmatched docs open singleton clusters labeled by their own id.
    * One groupBy on the (tiny) verified-pair frame plus a left join on
    * shard ids — the full corpus is never re-clustered. When two matched
    * historical clusters disagree, min-label is the same tie-break the
    * batch algorithms use; a periodic [[connectedComponentsStar]] over
    * accumulated pairs reconciles cross-cluster merges, exactly like a
    * deferred union-find compaction.
    */
  def attachToClusters(shard: DataFrame, probePairs: DataFrame,
      clusters: DataFrame, idCol: String): DataFrame = {
    val att = probePairs
      .join(clusters.select(col(idCol).as("dup_of"), col("cluster_id")), "dup_of")
      .groupBy(col(idCol))
      .agg(min(col("cluster_id")).as("cluster_id"),
        count(lit(1)).as("n_matched"))
    shard.select(col(idCol)).join(att, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
  }

  /** Connected components over an undirected candidate-pair graph:
    * hash-min label propagation to a fixpoint. Each round every vertex
    * takes the min label among itself and its neighbors — one shuffled
    * join + aggregate per round, lineage cut by localCheckpoint.
    *
    * Rounds needed = graph diameter. LSH dedup graphs are near-cliques
    * (docs sharing a band all pair up), so 1-2 rounds converge; for
    * adversarially long path graphs use [[connectedComponentsStar]] —
    * O(log n) rounds regardless of diameter, same building blocks.
    *
    * Returns (id, cluster_id = component-min id) for every vertex that
    * appears in `edges`; isolated vertices are the caller's left join.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame =
    // materialize the pair list once BEFORE symmetrizing — the union
    // would otherwise evaluate the (expensive) upstream candidate
    // pipeline twice, once per direction.
    hashMin(edges.select(col(aCol).as("src"), col(bCol).as("dst")).localCheckpoint(), maxIter)

  /** [[connectedComponents]] over a materialized (src, dst) pair list. */
  private def hashMin(p: DataFrame, maxIter: Int): DataFrame = {
    // The symmetrized view needs no distinct or checkpoint of its own:
    // ordered pairs (a<b by convention) cannot collide with their swaps,
    // duplicate edges cannot change a min-aggregate, and re-deriving the
    // union from the materialized pairs is cheaper than another shuffle
    // + write.
    val e = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
    // fold round 1 into initialization: every vertex of the symmetric
    // edge list appears as src, so one groupBy yields both the vertex
    // set and its first-hop min label (saves a distinct + one round)
    var labels = e.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("cluster_id"))
      .select(col("src").as("id"), col("cluster_id"))
      // lazy: the init (count, sum) collect below is the first action
      .localCheckpoint(eager = false)
    // The label table is one row per vertex *of the candidate graph* —
    // docs with at least one LSH collision, a small fraction of the
    // corpus. Up to [[SmallGraphRows]] vertices, each propagation round
    // is a broadcast join (no shuffle of the edge list); past that it
    // falls back to the shuffled join, which is the correct 100 TB plan.
    // Convergence via the monotone-sum invariant: each round takes a
    // componentwise min, so every label is non-increasing and the label
    // SUM strictly decreases until the fixpoint — equal sums ⟺ no label
    // changed. One cheap aggregate over materialized rows per round,
    // replacing a second (labels ⟕ nbrMin) join just to carry a changed
    // flag. DECIMAL(38,0) so a 1e9-vertex × 1e18-id corpus cannot wrap.
    // The vertex count rides the SAME collect (r16: one setup job, not
    // two — the n_jobs decomposition showed every collect here is a
    // fixed-cost job).
    def labelSum(l: DataFrame): java.math.BigDecimal = {
      val v = l.agg(sum(col("cluster_id").cast("decimal(38,0)"))).collect()(0)
      if (v.isNullAt(0)) java.math.BigDecimal.ZERO else v.getDecimal(0)
    }
    val init = labels.agg(count(lit(1)),
      sum(col("cluster_id").cast("decimal(38,0)"))).collect()(0)
    val smallLabels = init.getLong(0) <= SmallGraphRows
    var prevSum =
      if (init.isNullAt(1)) java.math.BigDecimal.ZERO else init.getDecimal(1)
    var converged = false
    var i = 1
    while (!converged && i <= maxIter) {
      val lbl = if (smallLabels) broadcast(labels) else labels
      // new label = min over (own label ∪ neighbors' labels): a union
      // into ONE shuffled min-aggregate — no join-back needed, since the
      // union already carries every vertex's current label
      val updated = labels.unionByName(
          e.join(lbl, e("dst") === lbl("id"))
            .select(e("src").as("id"), lbl("cluster_id").as("cluster_id")))
        .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint(eager = false) // the labelSum collect materializes
      val s = labelSum(updated)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = updated
      i += 1
    }
    // One-hop propagation needs DIAMETER rounds; silently returning
    // under-converged labels would hand out wrong cluster ids (exactly
    // what happened on a 28-hop hamming-ball chain before this guard).
    // Clique-shaped LSH graphs converge in 2-3 rounds; a graph that
    // exhausts the budget is chain-shaped and belongs on the
    // O(log n)-round [[connectedComponentsStar]] instead.
    if (!converged) throw new IllegalStateException(
      s"hash-min connected components did not converge in $maxIter rounds — " +
        "long-diameter candidate graph; use connectedComponentsStar")
    labels
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the long-diameter scale path: hash-min propagation
    * ([[connectedComponents]]) needs O(diameter) rounds, which on a
    * chain-shaped near-dup graph (each doc similar only to its
    * neighbor) is O(n); star contraction converges in O(log n) rounds
    * regardless of diameter. Each round is two groupBy+join pairs over
    * the current edge set — pure DataFrame ops, so AQE handles skewed
    * high-degree hubs.
    *
    *  - large-star: every node's STRICTLY LARGER neighbors are rewired
    *    to the minimum of its closed neighborhood (keeps every node
    *    attached to a path toward its component min, never grows the
    *    min).
    *  - small-star: edges directed larger→smaller; each node's small
    *    neighbors (and itself) are rewired to their collective min
    *    (contracts chains onto the local min).
    *
    * At the fixpoint the edge set is a union of stars rooted at each
    * component's min id, and both operations are idempotent.
    * Convergence is detected by the monotone potential both operations
    * never increase — the per-node min over the closed neighborhood —
    * summed as DECIMAL(38,0) (cannot wrap), plus the vertex count; a
    * fixpoint leaves both exactly unchanged, and the potential table of
    * the converged round is itself the label assignment.
    *
    * Returns one row per vertex of the edge list: (id, cluster_id).
    */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 40): DataFrame = {
    var e = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()

    def sym(d: DataFrame): DataFrame =
      d.unionByName(d.select(col("v").as("u"), col("u").as("v")))

    // Each round starts by materializing the per-vertex closed-
    // neighborhood min (the large-star m(u) table). That SAME table is
    // the convergence potential — (vertex count, Σ m as DECIMAL(38,0))
    // is one cheap aggregate over the checkpointed rows, not an extra
    // pass over the edges — and at the fixpoint it IS the final label
    // assignment, so convergence returns it directly.
    var prev: Option[(Long, java.math.BigDecimal)] = None
    var i = 0
    while (i <= maxIter) {
      val s = sym(e)
      val mins = s.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
        .localCheckpoint(eager = false) // the potential collect materializes
      val r = mins.agg(count(lit(1)), sum(col("m").cast("decimal(38,0)"))).collect()(0)
      val stats = (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
      if (prev.contains(stats))
        return mins.select(col("u").as("id"), col("m").as("cluster_id"))
      // the potential still moved after the last round the budget allows:
      // returning these labels would hand out wrong cluster ids, the
      // failure hash-min's guard exists for
      if (i == maxIter) throw new IllegalStateException(
        s"star connected components did not converge in $maxIter rounds")
      prev = Some(stats)
      // large-star: (v, m(u)) for every neighbor v > u
      val large = s.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star on larger→smaller edges: (v, m(u)) ∪ (u, m(u))
      val dir = large.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins2 = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      e = dir.join(mins2, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint()
      i += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Cluster assignment for a whole corpus: every doc labeled with the
    * min doc_id of its near-dup component (itself when isolated). The
    * canonical survivor of each cluster is the row with
    * `doc_id == cluster_id`.
    *
    * The pairs are materialized once and counted (one job); the count
    * picks the path:
    *  - at most [[SmallGraphRows]] pairs with integral ids: a union-find
    *    on the driver over the pairs fetched as primitive longs (one
    *    more job), its labels broadcast back. Its union keeps the smaller
    *    id as the root, so every label is its component's min id —
    *    exactly the converged hash-min label, at any diameter, with no
    *    propagation rounds (each round of [[connectedComponents]] is
    *    jobs of fixed cost on a graph this small);
    *  - otherwise hash-min propagation ([[connectedComponents]]) over
    *    the same materialized pairs, the distributed plan.
    */
  def clusterAssignment(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    clusterAssignment(docs, pairs, idCol, SmallGraphRows)

  /** [[clusterAssignment]] with the driver path taken up to `driverPairs`
    * pairs; 0 always takes the distributed path.
    */
  private[graft] def clusterAssignment(docs: DataFrame, pairs: DataFrame, idCol: String,
      driverPairs: Long): DataFrame = {
    val p = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint(eager = false) // the count job materializes
    val types = p.schema.fields.map(_.dataType)
    val comp =
      if (types.forall(Integral) && p.count() <= driverPairs)
        driverComponents(p, types.maxBy(_.defaultSize))
      else hashMin(p, 25)
    docs.select(col(idCol))
      .join(comp, docs(idCol) === comp("id"), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Size of a small candidate graph: a label table of at most this many
    * vertices is broadcast in each [[connectedComponents]] round, and a
    * pair set of at most this many pairs is labeled on the driver by
    * [[clusterAssignment]]; the [[GraphOps]] rounds broadcast their
    * per-node frames up to this many rows. ~16 B a row → ≤ 64 MB. At this many pairs
    * (cliques of 5, or disjoint pairs; 4 local cores) the driver path
    * took 5.7-6.9 s and allocated 0.4-0.7 GB on the calling thread
    * (~100 B a pair), hash-min 16-29 s.
    */
  private[graft] val SmallGraphRows = 4000000L

  private val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** (id, cluster_id) of materialized integral pairs `p` (src, dst) by
    * union-find on the driver, typed `t` as hash-min's union of the two
    * columns resolves them. Pairs with a null end connect nothing, as in
    * hash-min propagation.
    */
  private def driverComponents(p: DataFrame, t: DataType): DataFrame = {
    // the pairs as a flat (src, dst, src, dst, ...) array of primitive
    // longs, packed per partition: no Row object per pair
    val ends = p.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val b = Array.newBuilder[Long]
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) { b += r.getLong(0); b += r.getLong(1) }
        }
        Iterator(b.result())
      }.collect().flatten
    // vertex i is the i-th smallest id, so the smaller index is the
    // smaller id and a root-by-min union leaves each component's min
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    ids.indices.foreach { i => if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 } }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var k = 0
    while (k < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, ends(k)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, ends(k + 1)))
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
      k += 2
    }
    // the labels leave the driver as two primitive arrays in one
    // broadcast and become rows in the tasks that read them
    val spark = p.sparkSession
    val labels = spark.sparkContext.broadcast(
      (java.util.Arrays.copyOf(ids, n), Array.tabulate(n)(i => ids(find(i)))))
    import spark.implicits._
    spark.range(n).mapPartitions { (it: Iterator[java.lang.Long]) =>
      val (v, l) = labels.value
      it.map(i => (v(i.toInt), l(i.toInt)))
    }.toDF("id", "cluster_id")
      .select(col("id").cast(t).as("id"), col("cluster_id").cast(t).as("cluster_id"))
  }

  /** [[clusterAssignment]] over the star-contraction components —
    * identical output contract, O(log n)-round scale path.
    */
  def clusterAssignmentStar(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comp = connectedComponentsStar(pairs, "doc_a", "doc_b")
    docs.select(col(idCol))
      .join(comp, docs(idCol) === comp("id"), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Edit-distance verification of LSH candidate pairs — the second
    * stage of the production near-dup pipeline: LSH proposes candidates
    * (cheap, recall-oriented), edit distance confirms them (precise,
    * run ONLY on the candidate set — never on the n² space). The
    * distance is computed over a normalized prefix: edit distance is
    * O(len²) per pair, and a bounded prefix keeps the verify stage
    * linear in candidates at any document length.
    */
  def fuzzyVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, prefixLen: Int = 64): DataFrame = {
    val pairs = minhashCandidatePairs(df, idCol, textCol)
    val norm = df.select(col(idCol),
      substring(normText(col(textCol)), 1, prefixLen).as("__p"))
    pairs
      .join(norm.select(col(idCol).as("doc_a"), col("__p").as("__pa")), "doc_a")
      .join(norm.select(col(idCol).as("doc_b"), col("__p").as("__pb")), "doc_b")
      .withColumn("edit_dist", levenshtein(col("__pa"), col("__pb")))
      .filter(col("edit_dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("edit_dist").cast("long").as("edit_dist"))
  }

  /** 32-bit SimHash fingerprint per document: per-bit majority vote over
    * the word hashes. Computed scan-side, no shuffle; word hashing and
    * the 32-bit tally are fused codegen'd passes (the HOF reference —
    * 32 filter() rounds — is pinned equal in ExtOpsSpec).
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    withWords(df, textCol, 1)
      .withColumn("__whashes", VectorExpressions.shingleHashes32(col("__words"), 1))
      .withColumn("simhash", VectorExpressions.simhash32(col("__whashes")))
      .select(col(idCol), col("simhash"))
  }

  /** SimHash near-dup pairs by pigeonhole banding: a pair within
    * Hamming distance d of a 32-bit simhash must agree exactly on at
    * least one of d+1 bands, so banding the fingerprint into 4 bytes
    * finds every pair with distance ≤ 3 via an EQUI join on
    * (band, byte) — the classic crawl-dedup scheme — and bit_count of
    * the xor verifies the distance exactly. One fingerprint scan, one
    * shuffle on the band key; candidate volume is collision-bound, the
    * n² space never materializes.
    */
  def simhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    // the banded rows are consumed by both self-join sides: the
    // checkpoint materializes the simhash kernel's output once (see
    // minhashCandidatePairs)
    simhashPairsFromFingerprints(
      simhash32(df, idCol, textCol).localCheckpoint(), idCol, maxHamming)

  /** [[simhashCandidatePairs]] from a pre-built (id, simhash)
    * fingerprint frame (typically an ingest-time parquet artifact —
    * the fingerprint scan is the live op's dominant cost and the
    * fingerprints are exactly what a crawl-dedup ingest pass persists;
    * the staged-artifact twin pattern of
    * [[graft.ext.TextOps.winnowPairsFromPostings]]).
    */
  def simhashPairsFromFingerprints(sh: DataFrame, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1 // pigeonhole: 32 bits / 4 bands = 8-bit bytes
    val bands = sh.select(col(idCol), col("simhash"),
      explode(array((0 until nBands).map(i =>
        struct(lit(i).as("b"),
          shiftright(col("simhash"), i * 8).bitwiseAND(lit(255L)).as("v"))): _*)).as("bd"))
      .select(col(idCol), col("simhash"), col("bd.b").as("__b"), col("bd.v").as("__v"))
    PostingIndex.selfJoin(bands, idCol, Seq("__b", "__v"),
        Seq(col("simhash").as("__sa")), Seq(col("simhash").as("__sb")))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Pigeonhole pairs over a 64-bit hash shipped as two 32-bit halves
    * (`hiCol`/`loCol`) — the 64-bit twin of [[simhashCandidatePairs]]:
    * 8 bands of 8 bits, so any pair within Hamming distance ≤ 7 agrees
    * exactly on some band and the equi join on (band, byte) finds it;
    * bit_count of the two xors verifies the distance exactly. Used for
    * perceptual-hash image dedup ([[graft.ext.Multimodal]]) but
    * hash-agnostic: one banded scan, one shuffle on the band key,
    * candidate volume collision-bound — never n².
    */
  def hammingPairs64(hashes: DataFrame, idCol: String,
      hiCol: String = "phash_hi", loCol: String = "phash_lo",
      maxHamming: Int = 7): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8-band pigeonhole over 64 bits is exhaustive only for d <= 7, got $maxHamming")
    val bands = hashes.select(col(idCol), col(hiCol), col(loCol),
      explode(array((0 until 8).map { b =>
        val src = if (b < 4) col(loCol) else col(hiCol)
        struct(lit(b).as("b"),
          shiftright(src, (b % 4) * 8).bitwiseAND(lit(255L)).as("v"))
      }: _*)).as("bd"))
      .select(col(idCol), col(hiCol), col(loCol),
        col("bd.b").as("__b"), col("bd.v").as("__v"))
      .localCheckpoint() // both join sides read the banded rows once
    PostingIndex.selfJoin(bands, idCol, Seq("__b", "__v"),
        Seq(col(hiCol).as("__ha"), col(loCol).as("__la")),
        Seq(col(hiCol).as("__hb"), col(loCol).as("__lb")))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("__ha").bitwiseXOR(col("__hb"))) +
          bit_count(col("__la").bitwiseXOR(col("__lb")))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Bucketed pairwise n-gram Jaccard similarity: pairs within the same
    * bucket whose distinct-shingle Jaccard ≥ threshold.
    *
    * Implemented as an inverted index (explode distinct shingles, join on
    * (bucket, shingle), count common shingles per pair) rather than a
    * pairwise self-join with array_intersect: identical result set —
    * pairs sharing zero shingles have jaccard 0 and can never pass a
    * positive threshold — but the work is proportional to the number of
    * *colliding postings*, not bucket-size² (measured ~100× at sf0.1
    * together with the xxhash64 keys below); at 100 TB it is the
    * difference between feasible and not.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      bucketCol: String, threshold: Double, k: Int = 3): DataFrame = {
    // Postings carry xxhash64(shingle), not the string: the join key is
    // engine-internal (the oracle's math is over the same *sets*, and a
    // 64-bit collision is ~1e-8 at corpus scale), and a fixed-width key
    // shrinks the shuffle and hash table. No md5: that cost belongs to
    // MinHash signatures only. Shingling + hashing is the fused
    // expression (same values as xxhash64 over the shingle strings —
    // the strings are never materialized).
    //
    // Each posting row carries its document's distinct-shingle count:
    // 8 bytes per posting buys back a whole groupBy over the postings
    // plus two shuffle joins to re-attach the sizes — at 100 TB the
    // postings relation is the largest intermediate in the query, and
    // re-aggregating + re-joining it twice dominates; the widened row
    // does not.
    val postings = withShingleSet(df, textCol, k)
      .select(col(idCol), col(bucketCol).as("__bk"),
        size(col("__hs")).as("__n"), explode(col("__hs")).as("__h"))
      // materialized once: both self-join sides read fixed-width posting
      // rows instead of re-running shingling
      .localCheckpoint()
    PostingIndex.selfJoin(postings, idCol, Seq("__bk", "__h"),
        Seq(col("__n").as("__na")), Seq(col("__n").as("__nb")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("int").as("inter"),
        first(col("__na")).as("__na"), first(col("__nb")).as("__nb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("__na") + col("__nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[withWords]] plus `__hs`, the distinct 64-bit k-word shingle
    * hashes of each doc (the fused [[VectorExpressions.shingleHashes64]] kernel).
    */
  private[graft] def withShingleSet(df: DataFrame, textCol: String, k: Int): DataFrame = {
    withWords(df, textCol, k)
      .withColumn("__hs", array_distinct(VectorExpressions.shingleHashes64(col("__words"), k)))
  }

  /** Distinct k-word shingle-hash sets per doc — the staged-artifact
    * projection [[containmentPairsFromSets]] serves from.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    withShingleSet(df, textCol, k).select(col(idCol), col("__hs"))

  /** Directed near-CONTAINMENT pairs: (contained, container) where
    * |A∩B| / |A| ≥ threshold over distinct k-shingle hash sets — the
    * boilerplate/quotation detector Jaccard misses (a short doc fully
    * embedded in a long one has high containment but LOW Jaccard, so a
    * MinHash-band propose would never surface it). Candidates instead
    * come from RARE shingles (document frequency ≤ maxDf): if A ⊆ B
    * then every shingle of A — including its rare ones — appears in B,
    * so for FULL containment any contained doc with at least one rare
    * shingle is proposed; only boilerplate-only docs (all shingles
    * common) escape, which is the explicit df-cap contract, loud in
    * the signature. That recall guarantee is exact-containment-only:
    * at threshold < 1 a near-contained doc can be missed when every
    * shingle of the OVERLAP is common — its rare shingles may all fall
    * in the non-contained remainder, where they never co-occur with
    * the container. Callers needing near-containment recall on such
    * docs should raise maxDf (recall–cost dial).
    *
    * Scale posture (ScaleSmoke 50×/100× content-growth tiers):
    * candidate VOLUME is measured exactly linear (rows ×50.0 /
    * ×100.0), and since round 11 BOTH corpus-constant-heavy
    * intermediates are bounded in flight by `pairBudgetPerPass`:
    * (a) the Σ_h df_h² pre-distinct pair-occurrence stream (near-dup
    * twins share ~all their shingles, so each true pair surfaces once
    * per shared rare shingle) expands in sequential bucket tranches;
    * (b) the VERIFY join — each candidate row picks up both docs'
    * shingle-hash arrays, and the 100× smoke measured THIS single-shot
    * join (176M candidates) writing >100 GB of shuffle while the
    * tranched propose stayed under 10 GB — scores in sequential
    * candidate slices of budget/4 rows, survivors checkpointed per
    * pass. The un-gated 100× row: rows ×100.0, 446.7 s, blockmgr
    * ≤ 9 GB throughout. Pair volume is maxDf-bounded-linear in corpus
    * size (each rare shingle emits ≤ maxDf·(maxDf−1)/2 pairs), the
    * same scale argument as the TF-IDF propose.
    *
    * Both directions of every undirected candidate are scored from one
    * joined frame; the shingle-hash sets materialize once and feed
    * both join sides.
    *
    * `pairBudgetPerPass` bounds the IN-FLIGHT pair-occurrence volume of
    * the propose (the Σdf² pre-distinct stream — a near-dup pair
    * surfaces once per shared rare shingle, so this intermediate is
    * linear-with-a-large-constant and was the one single-box
    * scratch-disk wall of the dedup tier at the 100× smoke): when the
    * exact Σ df·(df−1)/2 — one cheap aggregate over the already-built
    * bucket frame — exceeds the budget, buckets split by hash into
    * ⌈Σ/budget⌉ tranches, each tranche expands + dedupes + checkpoints
    * SEQUENTIALLY (so its expansion shuffle files free before the next
    * tranche runs), and the final distinct runs over the ~linear
    * per-tranche outputs. Same pair set in any tranching (a pair's
    * duplicates all carry the same bucket-local expansion, and the
    * cross-tranche duplicates die in the final distinct), so the
    * oracle is unchanged; graded scales take the single-pass path.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = 20, k: Int = 3,
      pairBudgetPerPass: Long = 50000000L): DataFrame =
    containmentPairsFromSets(shingleSets(df, idCol, textCol, k),
      idCol, threshold, maxDf, pairBudgetPerPass)

  /** [[containmentPairs]] from a pre-built (id, __hs distinct-shingle-
    * hash array) frame — typically an ingest-time parquet artifact (the
    * `shingleSets` projection): tokenizing + hashing the corpus is the
    * dominant cost of the live op and is exactly what an ingest pass
    * persists once per corpus. Same propose/score/budget machinery.
    */
  def containmentPairsFromSets(sets0: DataFrame, idCol: String,
      threshold: Double, maxDf: Int = 20,
      pairBudgetPerPass: Long = 50000000L): DataFrame = {
    require(pairBudgetPerPass >= 1000L,
      s"pairBudgetPerPass must be at least 1e3, got $pairBudgetPerPass")
    // one lazy checkpoint of the set frame: the posting explode, the
    // budget aggregate and BOTH score join sides read it (4 evaluations
    // of the caller's hash scan / artifact scan otherwise); the
    // postCount aggregate below is the first action and materializes it
    val sets = sets0.localCheckpoint(eager = false)
    val posts = sets.select(col(idCol), explode(col("__hs")).as("__h"))
    // One aggregate shuffle gathers each shingle's (distinct) doc list;
    // pair expansion is then scan-side combination generation inside the
    // df-capped bucket — measured ~3× cheaper than the rare⋈rare
    // self-join, whose per-shingle df² build rows all reshuffle into
    // the distinct (same pair set either way, which is why the oracle's
    // join-based propose still matches)
    val buckets = posts.groupBy(col("__h"))
      .agg(sort_array(collect_set(col(idCol))).as("__ds"))
      .filter(size(col("__ds")).between(2, maxDf))
    def expand(b: DataFrame): DataFrame =
      b.select(explode(expr(
          """flatten(transform(__ds, (a, i) ->
               transform(slice(__ds, i + 2, size(__ds)), b -> struct(a AS doc_a, b AS doc_b))))"""))
          .as("__p"))
        .select(col("__p.doc_a"), col("__p.doc_b"))
        .distinct()
    // Cheap PRE-estimate from the already-checkpointed sets (no extra
    // shuffle): Σ_h df·(df−1)/2 ≤ (maxDf−1)/2 · |postings|. Under the
    // budget — every graded scale — the plan is EXACTLY the r10
    // single-pass one. Only past it do we pay the staged path: the
    // bucket frame checkpoints ONCE (one postings shuffle total — the
    // first cut of this code measured the shuffle re-running per
    // action and filled the smoke box's disk), the exact Σdf² is read
    // from that checkpoint, and tranches expand + dedupe + checkpoint
    // sequentially so one tranche's Σdf²/T expansion is the only
    // propose intermediate alive at a time.
    val postCount = sets
      .agg(coalesce(sum(size(col("__hs"))), lit(0L))).collect()(0).getLong(0)
    val pairOccBound = postCount * (maxDf - 1) / 2
    // both directions emitted from ONE scored row via a 2-element array
    // explode — a union of two selects over `scored` would re-run the
    // whole propose+intersect pipeline per branch (plan-audited)
    def score(cands: DataFrame): DataFrame = cands
      .join(sets.select(col(idCol).as("doc_a"), col("__hs").as("__ha")), "doc_a")
      .join(sets.select(col(idCol).as("doc_b"), col("__hs").as("__hb")), "doc_b")
      .withColumn("__inter", size(array_intersect(col("__ha"), col("__hb"))))
      .withColumn("__ca", round(col("__inter").cast("double") / size(col("__ha")), 9))
      .withColumn("__cb", round(col("__inter").cast("double") / size(col("__hb")), 9))
      .select(explode(array(
        struct(col("doc_a").as("contained"), col("doc_b").as("container"),
          col("__ca").as("containment")),
        struct(col("doc_b").as("contained"), col("doc_a").as("container"),
          col("__cb").as("containment")))).as("__d"))
      .select(col("__d.contained").as("contained"), col("__d.container").as("container"),
        col("__d.containment").as("containment"))
      .filter(col("containment") >= threshold)
    if (pairOccBound <= pairBudgetPerPass) score(expand(buckets))
    else {
      val staged = buckets.localCheckpoint()
      val pairOcc = staged
        .agg(coalesce(sum(expr("size(__ds) * (size(__ds) - 1) div 2")), lit(0L)))
        .collect()(0).getLong(0)
      val tranches = math.max(1L, math.min(256L,
        (pairOcc + pairBudgetPerPass - 1) / pairBudgetPerPass)).toInt
      // driver-side operational log: the tranche decision is the one
      // runtime fact a scale incident needs (was the budget hit, how
      // hard), and it is otherwise invisible outside the Spark UI
      log.info(s"[containmentPairs] pairOcc=$pairOcc budget=$pairBudgetPerPass " +
        s"tranches=$tranches")
      val cands = (0 until tranches).map { t =>
        val slice = expand(
          staged.filter(pmod(hash(col("__h")), lit(tranches)) === t))
          .localCheckpoint()
        // nudge the context cleaner so the finished tranche's shuffle
        // files free before the next tranche writes its own (they
        // otherwise accumulate until a natural GC — measured filling
        // the smoke box's scratch disk across tranches)
        System.gc()
        log.info(s"[containmentPairs] tranche ${t + 1}/$tranches done")
        slice
      }.reduce(_ unionByName _).distinct().localCheckpoint()
      staged.unpersist(blocking = false)
      // The VERIFY join is the other corpus-constant-heavy intermediate:
      // each candidate row picks up BOTH docs' shingle-hash arrays
      // (~2×|shingles| longs), so n_cands × row-width can dwarf the pair
      // stream itself — the 100× smoke measured the single-shot verify
      // writing >100 GB of shuffle AFTER the tranched propose stayed
      // under 10 GB, which killed the box's disk. Slice candidates by
      // pair hash and score sequentially: in-flight verify volume is
      // budget/4 rows per pass (arrays are ~4× wider than a bare pair),
      // survivors checkpoint tiny (post-threshold), and slices are
      // disjoint because candidates are globally distinct — identical
      // output to the single-pass verify in any slicing. On a cluster
      // the same knob simply caps per-wave scratch; executors scale the
      // waves out.
      val nCands = cands.count()
      val perPass = math.max(1000L, pairBudgetPerPass / 4)
      val vPasses = math.max(1L, math.min(256L,
        (nCands + perPass - 1) / perPass)).toInt
      if (vPasses <= 1) score(cands)
      else {
        log.info(s"[containmentPairs] nCands=$nCands verifyPasses=$vPasses")
        (0 until vPasses).map { i =>
          val part = score(cands.filter(
            pmod(hash(col("doc_a"), col("doc_b")), lit(vPasses)) === i))
            .localCheckpoint()
          System.gc()
          log.info(s"[containmentPairs] verify pass ${i + 1}/$vPasses done")
          part
        }.reduce(_ unionByName _)
      }
    }
  }

  /** LSH-band-bucketed exact Jaccard: candidates come from the MinHash
    * band join ([[minhashCandidatePairs]]), then each candidate pair is
    * verified with EXACT distinct-shingle Jaccard ≥ threshold.
    *
    * This is the honest 100 TB bucketing for [[ngramJaccardPairs]]: a
    * metadata bucket like language is unbounded under corpus skew
    * (English is ~half of a web corpus, so "per-bucket pairwise" quietly
    * becomes all-pairs), while a band bucket's expected size is set by
    * the signature parameters alone. Cost is candidates × one bounded
    * set intersection — the sets join back by doc id, so the text/hash
    * arrays shuffle once and only for docs that are in some candidate
    * pair. Recall is the band recall (a pair sharing no band is never
    * scored); precision is exact because the threshold test runs on the
    * true Jaccard, not the signature estimate.
    */
  def ngramJaccardPairsLsh(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    // k threads through to the band join: candidates are proposed on the
    // SAME k-shingles the exact verify scores, else band recall and the
    // Jaccard threshold would silently talk about different grams
    val cands = minhashCandidatePairs(df, idCol, textCol, k)
    // one scan computes every doc's distinct-shingle hash set; both join
    // sides reuse it (same materialize-once rationale as the postings in
    // ngramJaccardPairs)
    val sets = shingleSets(df, idCol, textCol, k).localCheckpoint()
    PostingIndex.verifyJaccard(cands, sets, sets, threshold)
  }

  /** EXACT set-similarity self-join by prefix filtering (AllPairs /
    * PPJoin family): all pairs whose distinct-token Jaccard ≥ threshold,
    * with zero false negatives — the deterministic complement of the
    * probabilistic MinHash band propose (which trades recall for a
    * signature-bounded candidate set). `tokensCol` is any array column
    * (words, shingles, hashes — the caller picks the granularity;
    * duplicates are dropped here).
    *
    * Propose: order every doc's token set by global rarity (df asc,
    * token asc — one total order both for correctness and so reruns are
    * bit-stable), keep only the first `|d| - ceil(t·|d|) + 1` tokens as
    * the doc's PREFIX, and join docs on shared prefix tokens. The
    * classic prefix-filter theorem makes this exact: if J(a,b) ≥ t the
    * pair shares ≥ t·max(|a|,|b|) tokens, more than either suffix can
    * hold, so the globally-smallest common token sits inside BOTH
    * prefixes and the equi-join finds the pair. Rarest-first ordering
    * is what keeps postings short — a stopword enters a doc's prefix
    * only when the doc has nothing rarer to offer.
    *
    * Scale contract: the within-token candidate join is quadratic in
    * the PREFIX posting length, and unlike a band key that length is
    * data-dependent — so the propose carries a LOUD bound (the
    * containmentPairs/maxBlock discipline): the longest prefix posting
    * is measured on the materialized postings (one tiny aggregate over
    * an already-checkpointed frame) and the op REFUSES past
    * `maxPosting` rather than silently running an unbounded join. The
    * length filter `min(|a|,|b|) ≥ t·max(|a|,|b|)` (implied by J ≥ t)
    * and the PPJoin positional filter (see [[prefixCandsOf]]) prune
    * candidates before the pair dedup and the exact verify.
    *
    * Verify: exact Jaccard on candidate pairs via each side's full
    * sorted token array (materialized once, both joins reuse it — the
    * `sets` pattern of [[ngramJaccardPairsLsh]]). `jaccard` is an exact
    * integer ratio, so the double division is engine-portable bit-for-
    * bit.
    */
  def prefixFilterPairs(df: DataFrame, idCol: String, tokensCol: String,
      threshold: Double, maxPosting: Long = 100000L): DataFrame =
    prefixFilterPairsRanked(
      rankedTokens(df, idCol, tokensCol)
        // both the prefix explode and the two verify joins read this
        // frame — materialize unless the caller staged it at ingest
        .localCheckpoint(),
      idCol, threshold, maxPosting)

  /** The rarest-first ranked token frame [[prefixFilterPairs]] joins on:
    * (id, __st sorted-token array, __n size). Factored out so an ingest
    * phase can persist it once per corpus (the ANN-index `ensure*`
    * pattern) — building it is the op's dominant cold cost (tokenize +
    * shingle + df-count + re-sort of the whole corpus; measured 7× the
    * serve-side median when paid inside the query).
    */
  def rankedTokens(df: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val toks = df.select(col(idCol), array_distinct(col(tokensCol)).as("__toks"))
    // checkpoint the exploded postings: BOTH the document-frequency
    // aggregate and the rarest-first re-assembly join consume this
    // frame, and without materialization each re-runs the whole
    // upstream tokenize/shingle pipeline (measured 2x the op's cost at
    // sf0.1 — the groupedCdf checkpoint lesson)
    val posting = toks.select(col(idCol), explode(col("__toks")).as("__t"))
      .localCheckpoint()
    val dfreq = posting.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    // re-assemble each doc's tokens in (df, token) order; sort_array on
    // the struct gives the rarest-first total order regardless of
    // collect_list's arrival order
    posting.join(dfreq, "__t")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__df"), col("__t")))).as("__rt"))
      .select(col(idCol),
        expr("transform(__rt, x -> x.__t)").as("__st"),
        size(col("__rt")).as("__n"))
  }

  /** VALUE-ordered token frame for the INCREMENTAL prefix-filter march:
    * (id, __st token-ascending distinct array, __n). The batch twin of
    * [[rankedTokens]] with one deliberate difference — the total order
    * is the token VALUE, not document frequency: df shifts as batches
    * arrive, so a rarest-first state built at batch i would order
    * tokens differently than batch j and the prefix-filter theorem
    * (which needs ONE total order across both sides of every join)
    * would silently lose pairs. Value order is corpus-independent, so
    * a doc's prefix never changes after ingest — the property that
    * makes a STANDING prefix state possible at all. The price is the
    * lost rarest-first posting-shortening heuristic (a stopword-ish
    * token can sit in many prefixes), which is why the march carries
    * the same loud `maxPosting` guard. Exactness is unaffected: the
    * theorem holds for any fixed total order, and the verified output
    * (exact Jaccard) is order-independent — pinned equal to the
    * rarest-first one-shot in Round13Spec.
    */
  def valueRankedTokens(df: DataFrame, idCol: String, tokensCol: String): DataFrame =
    df.select(col(idCol), sort_array(array_distinct(col(tokensCol))).as("__st"))
      .withColumn("__n", size(col("__st")))
      .filter(col("__n") >= 1)

  /** Incremental EXACT set-similarity march — the prefix-filter twin of
    * [[minhashPairsOfBatch]] (VERDICT r12 item 6): the standing state is
    * the per-doc [[valueRankedTokens]] frame (merged across batches by
    * plain union — doc-keyed rows from disjoint batches), and each
    * arriving delta emits exactly the verified pairs its docs complete:
    * delta×state through one prefix-token join plus delta×delta through
    * the batch-local PPJoin self-join. Only the DELTA is ever tokenized;
    * the state carries no text. Union of per-batch emissions over any
    * batch partition == the one-shot [[prefixFilterPairs]] over the full
    * corpus, pair for pair WITH equal jaccard values: a qualifying
    * pair's smallest common token sits in both value-ordered prefixes
    * regardless of arrival (prefixes are per-doc deterministic), so the
    * pair is emitted at the batch where its later doc lands — cross if
    * the docs arrived apart, within if together — and at no other
    * batch; the exact-Jaccard verify is order-free. Both PPJoin
    * positional stages apply unchanged (they only need both docs sorted
    * by the same total order). The `__dx =!= __dy` predicate guards the
    * doc-disjointness the march assumes, exactly as in the MinHash
    * march.
    */
  def prefixPairsOfBatch(state: DataFrame, delta: DataFrame, idCol: String,
      threshold: Double, maxPosting: Long = 100000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // both prefix-posting frames are materialized once: the self- and
    // cross-joins of the march both consume them
    val sp = prefixPostings(state, idCol, threshold).localCheckpoint()
    val dp = prefixPostings(delta, idCol, threshold).localCheckpoint()
    // ONE aggregate job over the union of the posting frames, keyed
    // (batch, token) so each batch's posting lengths stay separate — the
    // n-collect version spent one fixed-cost job per batch on a march
    // whose cost is otherwise all scheduling
    guardPosting(Seq(sp, dp).zipWithIndex
        .map { case (f, j) => f.select(lit(j).as("__b"), col("__t")) }
        .reduce(_ unionByName _),
      Seq("__b", "__t"), maxPosting)
    val cross = ordered(prefixCandsOf(sp, dp, idCol, threshold,
      col("doc_a") =!= col("doc_b")))
    val within = ordered(prefixCandsOf(dp, dp, idCol, threshold,
      col("doc_a") < col("doc_b")))
    val sets = state.select(col(idCol), col("__st"))
      .unionByName(delta.select(col(idCol), col("__st")))
    PostingIndex.verifyJaccard(cross.unionByName(within).distinct(), sets, sets, threshold)
  }

  /** Whole-corpus march in ONE call — the shape a replay/backfill job
    * runs over n batch states. The union over j of [[prefixPairsOfBatch]]
    * emissions — within(batch j) ∪ cross(batches < j, batch j) — is
    * exactly the pair set {(x, y) : batch(x) < batch(y)} ∪
    * {(x, y) : batch(x) = batch(y), x < y}, so the whole march is ONE
    * batch-tagged posting self-join with that predicate: postings
    * materialize once for all batches (the per-batch shape unioned the
    * prior postings into the cross join per batch — O(n²) posting scan
    * volume over n batches; this is O(n)), one candidate groupBy, one
    * verify. The (A, B) role assignment of the PPJoin positional stage
    * is unchanged (A = earlier batch, or same-batch smaller id — the
    * state side of the per-batch shape). Output == the union of
    * pairwise [[prefixPairsOfBatch]] emissions == the one-shot
    * (Round13Spec pins all three equal).
    */
  def prefixPairsMarch(states: Seq[DataFrame], idCol: String,
      threshold: Double, maxPosting: Long = 100000L): DataFrame = {
    require(states.nonEmpty, "at least one batch state is required")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // ONE lazy checkpoint of the tagged (id, batch, __n, __st) base:
    // the posting explode AND both verify join sides derive from it, so
    // the batch-state scans run once (the ScratchProfile decomposition
    // measured the verify's two re-scans as half the query)
    val tagged = states.zipWithIndex
      .map { case (st, j) => st.withColumn("__b", lit(j)) }
      .reduce(_ unionByName _)
      .select(col(idCol), col("__b"), col("__n"), col("__st"))
      .localCheckpoint(eager = false)
    // lazy checkpoint: the guard aggregate below is the first action and
    // materializes it — one job, not checkpoint + aggregate
    val pp = prefixPostings(tagged, idCol, threshold, Seq("__b"))
      .localCheckpoint(eager = false)
    guardPosting(pp, Seq("__b", "__t"), maxPosting)
    // the (A, B) roles: A is the earlier batch, or the smaller id of
    // the same batch
    val marchCond = (col("__ba") < col("__bb") && col("doc_a") =!= col("doc_b")) ||
      (col("__ba") === col("__bb") && col("doc_a") < col("doc_b"))
    val cands = ordered(prefixCandsOf(pp, pp, idCol, threshold, marchCond)).distinct()
    val sets = tagged.select(col(idCol), col("__st"))
    PostingIndex.verifyJaccard(cands, sets, sets, threshold)
  }

  /** Prefix postings of a value/rarest-ranked frame: (id, `carry`…,
    * __n, __i 1-based position, __t token) for the first
    * `|d| - ceil(t·|d|) + 1` tokens of each doc's sorted `__st`.
    */
  private def prefixPostings(ranked: DataFrame, idCol: String,
      threshold: Double, carry: Seq[String] = Nil): DataFrame = {
    val keep = col(idCol) +: (carry :+ "__n").map(col)
    ranked
      .withColumn("__p", expr(
        s"slice(__st, 1, size(__st) - cast(ceil($threshold * size(__st)) as int) + 1)"))
      .select(keep :+ posexplode(col("__p")).as(Seq("__i0", "__t")): _*)
      .select(keep ++ Seq((col("__i0") + 1).as("__i"), col("__t")): _*)
  }

  /** Refuses a prefix posting list longer than `maxPosting` (`pp` grouped
    * by `keys`): the within-token candidate join is quadratic in it.
    */
  private def guardPosting(pp: DataFrame, keys: Seq[String], maxPosting: Long): Unit = {
    val r = pp.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__len"))
      .agg(max(col("__len"))).head()
    val longest = if (r.isNullAt(0)) 0L else r.getLong(0)
    require(longest <= maxPosting,
      s"prefix posting list of length $longest exceeds maxPosting=$maxPosting " +
        "(the within-token candidate join is quadratic in posting length; " +
        "raise the bound deliberately or pre-clean degenerate tokens)")
  }

  /** Candidate pairs as (least, greatest) ids. */
  private def ordered(pairs: DataFrame): DataFrame =
    pairs.select(least(col("doc_a"), col("doc_b")).as("doc_a"),
      greatest(col("doc_a"), col("doc_b")).as("doc_b"))

  /** PPJoin candidate stage between two [[prefixPostings]] frames that
    * share one total token order: (doc_a, doc_b) pairs where `cond`
    * holds that can still reach the threshold. A batch-tagged frame
    * (the march) carries its `__b` to the sides as `__ba` / `__bb`.
    *
    * J ≥ t ⇔ overlap ≥ t/(1+t)·(|a|+|b|); the required overlap in the
    * form (1+t)·bound ≥ t·(na+nb), kept in exact small-integer double
    * products with a 1e-9 slack so float rounding can only UNDER-prune.
    * The length filter `min(|a|,|b|) ≥ t·max(|a|,|b|)` is implied by
    * J ≥ t. PPJoin positional filter (Xiao et al., WWW'08), two exact
    * stages: (1) per-match optimistic bound — even if EVERY earlier
    * prefix slot matched, overlap ≤ min(i,j) + min(|a|−i, |b|−j); (2)
    * first-match bound after the pair group — both docs sort by the
    * same total order, so common tokens appear in the same relative
    * order and the match minimizing i also minimizes j: it is the FIRST
    * common token, nothing before it is shared, hence overlap ≤ 1 +
    * min(|a|−i₁, |b|−j₁). Stage 1 dropping a pair's first match only
    * happens when the pair is already provably below threshold
    * (min(i,j) ≥ 1 makes stage 1 looser than stage 2 on that match), so
    * the surviving-min positions never over-prune a true pair —
    * exactness is preserved by the theorem and PROVEN by the naive
    * all-pairs oracle staying hash-green. Measured on
    * dedup_prefix_filter sf0.1 (ScratchProfile decomposition):
    * verify-join input pairs cut 2.64× (272,109 → 103,077) at identical
    * verified output (1,548 pairs).
    */
  private def prefixCandsOf(pa: DataFrame, pb: DataFrame, idCol: String,
      threshold: Double, cond: Column): DataFrame = {
    def passes(bound: Column): Column =
      bound.cast("double") * (1.0 + threshold) >=
        (col("__na") + col("__nb")).cast("double") * threshold - 1e-9
    def side(p: DataFrame, doc: String, s: String): DataFrame = {
      val tag = if (p.columns.contains("__b")) Seq(col("__b").as("__b" + s)) else Nil
      p.select(Seq(col(idCol).as(doc)) ++ tag ++
        Seq(col("__n").as("__n" + s), col("__i").as("__i" + s), col("__t")): _*)
    }
    PostingIndex.keyJoin(side(pa, "doc_a", "a"), side(pb, "doc_b", "b"), Seq("__t"),
        cond &&
          least(col("__na"), col("__nb")).cast("double") >=
            greatest(col("__na"), col("__nb")) * threshold &&
          passes(least(col("__ia"), col("__ib")) +
            least(col("__na") - col("__ia"), col("__nb") - col("__ib"))))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("__ia")).as("__i1"), min(col("__ib")).as("__j1"),
        first(col("__na")).as("__na"), first(col("__nb")).as("__nb"))
      .filter(passes(lit(1) +
        least(col("__na") - col("__i1"), col("__nb") - col("__j1"))))
      .select(col("doc_a"), col("doc_b"))
  }

  /** [[prefixFilterPairs]] from a pre-built [[rankedTokens]] frame
    * (typically read back from an ingest-time parquet artifact).
    */
  def prefixFilterPairsRanked(ranked: DataFrame, idCol: String,
      threshold: Double, maxPosting: Long = 100000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // one lazy checkpoint of the (id, __n, __st) base — the posting
    // explode and both verify sides derive from it (march rationale)
    val base = ranked.select(col(idCol), col("__n"), col("__st"))
      .localCheckpoint(eager = false)
    // 1-based token POSITION in the rarest-first total order rides along
    // (posexplode): the PPJoin positional filter prunes on it
    val pp = prefixPostings(base, idCol, threshold)
      .localCheckpoint(eager = false) // the guard aggregate materializes
    guardPosting(pp, Seq("__t"), maxPosting)
    val sets = base.select(col(idCol), col("__st"))
    PostingIndex.verifyJaccard(
      prefixCandsOf(pp, pp, idCol, threshold, col("doc_a") < col("doc_b")),
      sets, sets, threshold)
  }
}
