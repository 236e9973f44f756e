package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph algorithms as pure DataFrame rounds, next to the connected
  * components of [[Dedup]] (hash-min propagation and star
  * contraction): BFS layers, triangle counts, k-core peeling, label
  * propagation, PageRank (global and personalized), HITS, modularity
  * and link prediction.
  *
  * The iterative ones broadcast a per-node frame (frontier, visited
  * set, ranks, scores) while it has at most [[Dedup.SmallGraphRows]]
  * rows — the one small-graph bound the dedup cluster rounds read too —
  * and fall back to shuffled joins past it. Link prediction proposes
  * its pairs through the posting self-join of [[PostingIndex]].
  */
object GraphOps {

  /** BFS layer discovery: label every node reachable within `maxDepth`
    * hops of the source set with its hop distance (a node's layer is
    * its FIRST discovery round — the BFS min-distance invariant, so the
    * result is deterministic regardless of traversal order).
    *
    * `edges` must carry (src, dst) with both directions present for an
    * undirected graph. Each round is one equi join on the frontier +
    * one anti join against the visited set — both shuffle on node id,
    * so a round's cost is bounded by frontier-adjacency size, never by
    * total graph size; `localCheckpoint` cuts lineage so the plan does
    * not grow with depth (the same discipline as the dedup cluster
    * rounds). The loop exits as soon as a frontier comes back empty —
    * the reachable set can only stop growing, so the remaining rounds
    * would all be no-op jobs; the count is over the just-checkpointed
    * frontier, so the per-round convergence check costs one cheap
    * action (the same discipline as the CC loops).
    *
    * While the frontier (resp. visited set) is under
    * [[Dedup.SmallGraphRows]] rows, it BROADCASTS into the adjacency join
    * (resp. anti join) — the edge table is then scanned and hash-probed,
    * never shuffled. A BFS frontier is tiny for the first hops by
    * construction, so the expensive early rounds of a 100 TB traversal
    * shuffle nothing; once a frontier outgrows the budget the round
    * falls back to the shuffled equi join (same result, same key), the
    * exact broadcast-under-budget discipline of the CC loops.
    */
  def bfsLayers(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0)
    // One checkpointed frame PER LAYER, never a re-materialized union:
    // each round checkpoints only the (small) new frontier, and the
    // visited set used by the anti join is a lazy union over the
    // already-materialized layers — re-checkpointing the union would
    // copy O(|visited|) rows every round for nothing.
    // checkpoint-then-count sites are LAZY checkpoints (r16): the count
    // is the first action and materializes the persist — one job per
    // round, not checkpoint + count
    var layers = List(sources.select(col("node"), lit(0).as("dist"))
      .localCheckpoint(eager = false))
    var frontier = layers.head.select(col("node"))
    var frontierRows = layers.head.count()
    var visitedRows = frontierRows
    var d = 1
    var exhausted = false
    while (d <= maxDepth && !exhausted) {
      val visited = layers.map(_.select(col("node"))).reduce(_.unionByName(_))
      val f = if (frontierRows <= Dedup.SmallGraphRows) broadcast(frontier) else frontier
      val v = if (visitedRows <= Dedup.SmallGraphRows) broadcast(visited) else visited
      val next = f.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(v, Seq("node"), "left_anti")
        .localCheckpoint(eager = false)
      frontierRows = next.count()
      if (frontierRows == 0) exhausted = true
      else {
        // `next` is already materialized; the dist column is a pure
        // projection over its checkpointed RDD
        layers = layers :+ next.withColumn("dist", lit(d))
        frontier = next.select(col("node"))
        visitedRows += frontierRows
        d += 1
      }
    }
    layers.reduce(_.unionByName(_))
  }

  /** Per-node triangle counts via degree-ordered edge orientation — the
    * MapReduce-classic trick that keeps the wedge join tractable on
    * skewed graphs: every undirected edge points from its
    * (degree, id)-smaller endpoint to the larger, so a hub of degree d
    * contributes wedges only through its FEW lower-degree neighbors
    * (O(m^1.5) wedges total, vs O(d²) per hub under naive id ordering —
    * at 100 TB the difference between a bounded shuffle and a
    * star-join explosion). Wedge (x→y, x→z with y<z in the same order)
    * closes iff oriented edge y→z exists; each triangle is enumerated
    * exactly once, then credited to all three corners.
    *
    * Both joins key on node ids (wedge build on x, closure probe on
    * the (y,z) pair), so the plan is two hash joins + one aggregate.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): x → y iff (deg_x, x) < (deg_y, y)
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
        .otherwise(col("v")).as("x"),
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
        .otherwise(col("u")).as("y"))
      .localCheckpoint()
    // wedges at the (deg,id)-minimum corner: pairs of out-neighbors of
    // x, labeled y < z BY ID (the orientation order of the closing edge
    // is unknown at this point, so the closure probe checks both)
    val wedges = oriented.select(col("x"), col("y"))
      .join(oriented.select(col("x"), col("y").as("z")), "x")
      .filter(col("y") < col("z"))
    val triangles = wedges.join(
      oriented.select(col("x").as("y"), col("y").as("z")), Seq("y", "z"))
      .unionByName( // closing edge may be oriented z→y
        wedges.join(oriented.select(col("x").as("z"), col("y").as("y")), Seq("y", "z")))
    triangles
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core by iterative peeling: drop every node whose degree in the
    * CURRENT edge set is below k, restrict the edges to survivors,
    * repeat. Stops at `maxPeels` or at the fixpoint, whichever is
    * first — and because a converged round removes nothing, a fixed
    * `maxPeels`-round unrolled SQL mirror produces the identical edge
    * set whether or not convergence came early (extra peels are no-ops).
    * Returns (node, deg) over the final edge set.
    *
    * Each peel is one degree aggregate + two semi-join restrictions,
    * all keyed on node ids; edge sets only shrink, and localCheckpoint
    * caps lineage, so a peel's cost is bounded by the surviving
    * subgraph — the degeneracy-peeling shape that holds at any scale.
    */
  def kCore(edges: DataFrame, k: Int, maxPeels: Int): DataFrame = {
    require(k >= 1 && maxPeels >= 0)
    var und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct().localCheckpoint(eager = false)
    var edgeCount = und.count()
    var peel = 0
    var stable = false
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).unionByName(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    while (peel < maxPeels && !stable) {
      val keep = degrees(und).filter(col("deg") >= k).select(col("node"))
      val next = und
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(eager = false)
      val nextCount = next.count()
      // isolated nodes never appear in the edge set, so an unchanged
      // edge count means an unchanged degree table — fixpoint
      stable = nextCount == edgeCount
      und = next
      edgeCount = nextCount
      peel += 1
    }
    degrees(und)
  }

  /** Synchronous label propagation: seed nodes keep their label; every
    * other node takes the majority label among its neighbors' current
    * labels each round (vote-count desc, smallest label breaks ties —
    * computed as a commutative max over (votes, -label) structs, so
    * map-side partial aggregation cannot reorder results). Nodes with
    * no labeled neighbor stay null for the round — label mass only
    * grows outward from the seeds, the semi-supervised auto-labeling
    * recipe over a kNN graph.
    *
    * Scale shape: each round is one join of the edge list against the
    * current label frame (both keyed on node id — one partitioning
    * carries every round, exchange reuse) plus a two-level aggregate.
    * The label frame is one row per node — never wider — and
    * localCheckpoint cuts lineage per round.
    */
  def labelPropagate(pairs: DataFrame, seeds: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0)
    val seeded = nodes.join(seeds, Seq("node"), "left")
    // lazy checkpoints (r16): each round's label frame is referenced
    // once by the next round, so the caller's single action walks the
    // RDD chain materializing each exactly once — the eager variant
    // paid one job per round for the same persists
    var labels = seeded.localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      val nbr = labels.filter(col("label").isNotNull)
        .select(col("node").as("dst"), col("label").as("__nl"))
      val best = pairs.join(nbr, "dst")
        .groupBy(col("src"), col("__nl"))
        .agg(count(lit(1)).as("__votes"))
        .groupBy(col("src"))
        .agg(max(struct(col("__votes"), (-col("__nl")).as("__neg"))).as("__b"))
        .select(col("src").as("node"), (-col("__b").getField("__neg")).as("__prop"))
      labels = seeded
        .join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("__prop")).as("label"))
        .localCheckpoint(eager = false)
    }
    labels
  }

  /** Fixed-iteration PageRank (damping 0.85) as pure DataFrame rounds —
    * the link-analysis member of the iterative family next to BFS and
    * the two connected-components variants.
    *
    * Cross-engine determinism contract (the k-means discipline): each
    * node's outgoing contribution rounds once to 12 dp, the per-node
    * inbound sum folds as exact DECIMAL(38,12) (order-independent —
    * a double sum would diverge between partitionings and engines),
    * and the new rank rounds once to 12 dp. Every other operand is an
    * integer or an exact binary double (0.85, the 0.15/N base with N
    * integer), so an unrolled SQL mirror reproduces ranks bit-for-bit.
    *
    * Scale shape: ranks are one row per node — always the small side —
    * so each round is a broadcast join into the edge table plus one
    * shuffled sum keyed by dst. Nodes without in-links keep the base
    * term via the left join; dangling-node mass is not redistributed
    * (the classic simplification — both sides of the oracle drop it
    * identically).
    *
    * Job shape (optimization r16): while the rank frame is under
    * [[Dedup.SmallGraphRows]] rows, NO per-round localCheckpoint — the rounds
    * stay one lazy nested plan whose per-round BroadcastExchanges
    * materialize exactly once inside the caller's single action, and
    * the identical edges/outdeg subtrees dedup via ReusedExchange. The
    * measured cost of the old shape was jobs, not data: 51 jobs for 5
    * rounds on a 25-node graph (BENCHDETAIL_r16_baseline n_jobs), each
    * ~calib_fixed_s of pure scheduling. Past the budget every round
    * checkpoints as before — a shuffled-join loop without lineage cuts
    * would re-execute every prior round per action, which is the wrong
    * trade at scale.
    */
  def pageRank(edgesRaw: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 0)
    // canonicalize like the sibling triangleCounts/kCore: duplicate
    // edges would multiply contributions. Self-loops are KEPT — a
    // self-loop feeds a node's rank back to itself, which both engines
    // (and the unrolled oracle) reproduce identically.
    val edges = edgesRaw.select(col("src"), col("dst")).distinct()
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false) // the count materializes
    val n = nodes.count()
    val base = (1.0 - damping) / n
    val small = n <= Dedup.SmallGraphRows
    // broadcast path: outdeg stays lazy — its BroadcastExchange subtree
    // is identical every round, so one execution builds it once
    // (ReusedExchange); shuffled path materializes it once up front
    val outdegRaw = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val outdeg = if (small) outdegRaw else outdegRaw.localCheckpoint()
    var ranks = nodes.withColumn("rank", round(lit(1.0) / n, 12))
    if (!small) ranks = ranks.localCheckpoint()
    for (_ <- 1 to iters) {
      val r = if (small) broadcast(ranks) else ranks
      val od = if (small) broadcast(outdeg) else outdeg
      val contribs = edges
        .join(r, col("src") === col("node"))
        .join(od, "src")
        .withColumn("__c", round(col("rank") / col("outdeg"), 12))
        .groupBy(col("dst"))
        .agg(sum(col("__c").cast(dec)).cast("double").as("__in"))
      val upd = nodes
        .join(if (small) broadcast(contribs) else contribs,
          col("node") === col("dst"), "left")
        .withColumn("rank",
          round(lit(base) + lit(damping) * coalesce(col("__in"), lit(0.0)), 12))
        .select(col("node"), col("rank"))
      ranks = if (small) upd else upd.localCheckpoint()
    }
    ranks
  }

  /** Personalized PageRank (the topic-sensitive variant, Haveliwala
    * 2002): identical power iteration to [[pageRank]] except the
    * teleport mass lands ONLY on the seed set — rank_i(v) =
    * (1−d)·1[v∈S]/|S| + d·Σ_{u→v} rank_{i−1}(u)/outdeg(u), seeded at
    * 1[v∈S]/|S|. The result ranks nodes by proximity to the seeds —
    * the "expand from these known-good sources" primitive behind
    * seed-based corpus curation (rank crawl hosts near trusted
    * domains) and related-entity retrieval. Same engine-exactness
    * contract as [[pageRank]]: contributions rounded to 12 dp, summed
    * in DECIMAL(38,12) (order-independent), rank frames broadcast
    * under [[Dedup.SmallGraphRows]] rows and shuffle-joined past it. Seeds
    * outside the graph are dropped (the teleport mass must be
    * well-defined over reachable nodes); an empty effective seed set
    * is a loud error, never a silent uniform fallback.
    *
    * Same job shape as [[pageRank]] (optimization r16): under the
    * broadcast budget the rounds are one lazy nested plan (no per-round
    * checkpoint — 61 jobs measured for 5 rounds on the 25-node trade
    * graph, all scheduling); past it every round checkpoints so the
    * shuffled loop stays one-round deep. Setup is two jobs: the flagged
    * node frame's checkpoint and ONE aggregate returning (n, nSeeds).
    */
  def personalizedPageRank(edgesRaw: DataFrame, seedsRaw: DataFrame,
      iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 0)
    val edges = edgesRaw.select(col("src"), col("dst")).distinct()
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    val flagged = nodes
      .join(seedsRaw.select(col("node")).distinct().withColumn("__s", lit(1)),
        Seq("node"), "left")
      .localCheckpoint(eager = false) // the counts head() materializes
    val counts = flagged
      .agg(count(lit(1)).as("__n"), count(col("__s")).as("__ns")).head()
    val n = counts.getLong(0)
    val nSeeds = counts.getLong(1)
    require(nSeeds > 0,
      "personalized PageRank needs at least one seed present in the graph")
    val base = (1.0 - damping) / nSeeds
    val small = n <= Dedup.SmallGraphRows
    val outdegRaw = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val outdeg = if (small) outdegRaw else outdegRaw.localCheckpoint()
    var ranks = flagged
      .withColumn("rank", when(col("__s").isNotNull,
        round(lit(1.0 / nSeeds), 12)).otherwise(lit(0.0)))
      .select(col("node"), col("rank"))
    if (!small) ranks = ranks.localCheckpoint()
    for (_ <- 1 to iters) {
      val r = if (small) broadcast(ranks) else ranks
      val od = if (small) broadcast(outdeg) else outdeg
      val contribs = edges
        .join(r, col("src") === col("node"))
        .join(od, "src")
        .withColumn("__c", round(col("rank") / col("outdeg"), 12))
        .groupBy(col("dst"))
        .agg(sum(col("__c").cast(dec)).cast("double").as("__in"))
      val upd = flagged
        .join(if (small) broadcast(contribs) else contribs,
          col("node") === col("dst"), "left")
        .withColumn("rank", round(
          when(col("__s").isNotNull, lit(base)).otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("__in"), lit(0.0)), 12))
        .select(col("node"), col("rank"))
      ranks = if (small) upd else upd.localCheckpoint()
    }
    ranks
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    * list — the asymmetric complement of PageRank: a node is a good
    * HUB when it points at good authorities and a good AUTHORITY when
    * good hubs point at it (on a trade graph: heavy importers vs
    * heavy exporters, which one PageRank score conflates). Each
    * iteration is the alternating pair of edge-keyed aggregates with
    * L1 normalization (sum-to-1 rather than the textbook L2 — same
    * fixed point direction, but the normalizer is a plain sum our
    * decimal discipline makes engine-exact, where an L2 norm would
    * root a sum of squared 12-dp doubles).
    *
    * Same contract as [[pageRank]]: contributions rounded to 12 dp and
    * summed in DECIMAL(38,12) (order-independent), score frames
    * broadcast under [[Dedup.SmallGraphRows]] rows and shuffle-joined past it,
    * one localCheckpoint per round to cut the lineage. Raw (pre-
    * normalization) sums stay double-exact while n·maxScore < ~9e3 at
    * 12 dp — after the first normalization every score is ≤ 1, so the
    * bound only concerns round 1's all-ones start (documented, not a
    * practical limit: normalize sums are decimal anyway).
    */
  def hits(edgesRaw: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val edges = edgesRaw.select(col("src"), col("dst")).distinct().localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false) // the count materializes
    val n = nodes.count()
    val small = n <= Dedup.SmallGraphRows
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // Job shape (optimization r16). Broadcast path: NO materialization
    // at all — each half-round's aggregate is consumed ONCE (the L1
    // normalizer is an unbounded-frame window OVER the aggregate — a
    // ≤ n-row frame that is about to be broadcast-collected anyway, so
    // the single-task window adds nothing; the lint exempts
    // window-over-aggregate), keeping the lazy plan LINEAR in iters.
    // The two rejected shapes, both measured: per-round full-frame
    // checkpoints (the r15 code) spent 65 jobs on a 25-node graph, and
    // a lazy variant that kept the crossJoin normalizer duplicated the
    // aggregate subtree per consumer — ~4^iters plan growth, slower
    // than the checkpointed shape (3.3 s vs 1.8 s, all planning).
    // Shuffled path (n past the broadcast budget): the original
    // checkpoint-per-half-round loop, unchanged — at that scale the
    // lineage cut is worth two jobs per round and the normalizer must
    // not single-task, so it stays the broadcast one-row crossJoin.
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    var hub = nodes.withColumn("hub", lit(1.0))
    if (!small) hub = hub.localCheckpoint()
    var auth = nodes.withColumn("auth", lit(0.0))
    for (_ <- 1 to iters) {
      val aRaw = edges.join(bc(hub), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(round(col("hub"), 12).cast(dec)).cast("double").as("__a"))
      if (small) {
        val aN = aRaw.withColumn("__s",
          sum(col("__a").cast(dec)).over(wAll).cast("double"))
        auth = nodes.join(broadcast(aN), col("node") === col("dst"), "left")
          .withColumn("auth", when(col("__a").isNull, lit(0.0))
            .otherwise(round(col("__a") / col("__s"), 12)))
          .select(col("node"), col("auth"))
      } else {
        val aSum = aRaw.agg(sum(col("__a").cast(dec)).cast("double").as("__s"))
        auth = nodes.join(aRaw, col("node") === col("dst"), "left")
          .crossJoin(broadcast(aSum))
          .withColumn("auth", round(coalesce(col("__a"), lit(0.0)) / col("__s"), 12))
          .select(col("node"), col("auth"))
          .localCheckpoint()
      }
      val hRaw = edges.join(bc(auth), col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(sum(round(col("auth"), 12).cast(dec)).cast("double").as("__h"))
      if (small) {
        val hN = hRaw.withColumn("__s2",
          sum(col("__h").cast(dec)).over(wAll).cast("double"))
        hub = nodes.join(broadcast(hN), col("node") === col("src"), "left")
          .withColumn("hub", when(col("__h").isNull, lit(0.0))
            .otherwise(round(col("__h") / col("__s2"), 12)))
          .select(col("node"), col("hub"))
      } else {
        val hSum = hRaw.agg(sum(col("__h").cast(dec)).cast("double").as("__s2"))
        hub = nodes.join(hRaw, col("node") === col("src"), "left")
          .crossJoin(broadcast(hSum))
          .withColumn("hub", round(coalesce(col("__h"), lit(0.0)) / col("__s2"), 12))
          .select(col("node"), col("hub"))
          .localCheckpoint()
      }
    }
    hub.join(auth, "node")
  }

  /** Newman modularity of a node partition, per community — the
    * community-quality eval the graph tier was missing (CC / label-prop
    * / k-core PRODUCE partitions; nothing scored one). For undirected
    * simple graph `und` (u, v — one row per edge, u < v, no self-loops)
    * and an assignment (node, community), each community c contributes
    * e_c/m − (d_c/2m)² where e_c = intra-community edges, d_c = degree
    * sum over its nodes, m = |edges|; the total over communities is
    * Newman's Q. Nodes absent from `communities` simply don't
    * contribute (their edges still count in m and their neighbors'
    * degrees — the standard treatment of unassigned nodes).
    *
    * Plan shape: degrees are one node-keyed aggregate over the edge
    * ends; intra-edge counting joins each edge end to the assignment
    * (broadcast when the assignment is dimension-sized, as a community
    * table usually is); m is a one-row frame broadcast into the k-row
    * community frame. Nothing is quadratic, nothing collects — the same
    * code scores a partition of a 100 TB graph.
    */
  def modularity(und: DataFrame, communities: DataFrame): DataFrame = {
    val m = und.agg(count(lit(1)).as("__m"))
    val deg = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__deg"))
    val dc = deg.join(communities, "node")
      .groupBy(col("community"))
      .agg(sum(col("__deg")).as("degree_sum"), count(lit(1)).as("n_nodes"))
    val ec = und
      .join(communities.select(col("node").as("u"), col("community").as("__cu")), "u")
      .join(communities.select(col("node").as("v"), col("community").as("__cv")), "v")
      .filter(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    dc.join(ec, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        round(
          coalesce(col("intra_edges"), lit(0L)).cast("double") / col("__m")
            - (col("degree_sum").cast("double") / (col("__m") * 2))
            * (col("degree_sum").cast("double") / (col("__m") * 2)),
          9).as("contribution"))
  }

  /** Link prediction over a bipartite (key, node) edge set: for every
    * node pair sharing ≥ 1 key, the common-neighbor count, the
    * neighbor-set Jaccard, and the resource-allocation index
    * Σ 1/fan(key) over the shared keys — RA rather than Adamic-Adar's
    * Σ 1/log(fan) deliberately: no runtime libm in the score, so the
    * round-9 decimal sum keeps it engine-exact and order-independent.
    *
    * Propose shape: the inverted-index join every pair family here
    * rides — postings join on the shared KEY, never node×node. Keys
    * with fan-out above `maxFan` are excluded BY CONTRACT (the
    * containment maxDf economics: a key every node touches is this
    * graph's posting-list stopword — quadratic in fan-out, zero
    * linkage signal); neighbor degrees count kept keys only, so
    * jaccard stays consistent with the propose it rode.
    */
  def linkPredict(edges: DataFrame, keyCol: String, nodeCol: String,
      maxFan: Int = 64): DataFrame =
    linkPredictFromPostings(linkPostings(edges, keyCol, nodeCol, maxFan))

  /** The ingest half of [[linkPredict]]: the distinct fan-capped
    * `(key, node, fan)` postings — the frame every pair family here
    * persists at ingest (the TF-IDF-postings recipe) so the propose
    * never rebuilds distinct + degree-filter per query. Stage this to
    * parquet once per corpus; serve [[linkPredictFromPostings]] from
    * the artifact.
    */
  def linkPostings(edges: DataFrame, keyCol: String, nodeCol: String,
      maxFan: Int = 64): DataFrame = {
    require(maxFan >= 2, s"maxFan must be at least 2, got $maxFan")
    val ps = edges.select(col(keyCol).as("key"), col(nodeCol).as("node")).distinct()
    val deg = ps.groupBy(col("key")).agg(count(lit(1)).as("fan"))
    ps.join(deg.filter(col("fan") <= maxFan), "key")
  }

  /** The serving half of [[linkPredict]] over a staged
    * [[linkPostings]] frame (columns `key`, `node`, `fan` — the fan
    * cap is already applied at ingest): postings self-join on the
    * shared key, then the common/jaccard/RA scores.
    */
  def linkPredictFromPostings(postings: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val kept = postings.select(col("key").as("__k"), col("node").as("__n"),
      col("fan").as("__fan"))
    val pr = PostingIndex.keyJoin(
        kept.select(col("__k"), col("__n").as("node_a"), col("__fan")),
        kept.select(col("__k"), col("__n").as("node_b")), Seq("__k"),
        col("node_a") < col("node_b"))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("common"),
        sum(round(lit(1.0) / col("__fan"), 9).cast(DecimalType(27, 9)))
          .cast("double").as("ra_index"))
    val sd = kept.groupBy(col("__n")).agg(count(lit(1)).as("__nd"))
    pr.join(sd.select(col("__n").as("node_a"), col("__nd").as("__na")), "node_a")
      .join(sd.select(col("__n").as("node_b"), col("__nd").as("__nb")), "node_b")
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("__na") + col("__nb") - col("common")), 9))
      .select(col("node_a"), col("node_b"), col("common"), col("jaccard"),
        col("ra_index"))
  }
}
