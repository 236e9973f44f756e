package graft.queries

import graft.etl.{CommitOps, LayoutOps, Tables}
import org.apache.spark.sql.functions._

/** Round-15 layout rungs (VERDICT r14 items 4 and 8): incremental
  * manifest maintenance over an appended range-clustered table, and the
  * snapshot-consistent append-commit protocol on plain parquet.
  */
object Breadth24 {

  /** Two-phase staged copy of the range-clustered orders layout: batch
    * one (o_orderkey % 4 != 0, 12 range files) with its file manifest
    * built THEN, batch two (the remaining quarter of rows, 4 more range
    * files) appended AFTER — the exact state an incremental manifest
    * refresh exists for: a table that grew since its manifest was last
    * built. Returns (tableDir, staleManifestDir). Staged per-JVM
    * (writer-code-dependent content — ensureRunDir discipline).
    */
  def ensureStagedOrdersAppend(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val root = graft.etl.LayoutOps.ensureRunDir(s, dir, "orders_append_staged") { d =>
      val orders = Tables(s, dir, "orders")
      orders.filter(col("o_orderkey") % 4 =!= 0)
        .repartitionByRange(12, col("o_orderdate"), col("o_orderkey"))
        .write.parquet(s"$d/table")
      LayoutOps.buildFileManifest(s, s"$d/table", Seq("o_orderdate"))
        .write.parquet(s"$d/mani0")
      orders.filter(col("o_orderkey") % 4 === 0)
        .repartitionByRange(4, col("o_orderdate"), col("o_orderkey"))
        .write.mode("append").parquet(s"$d/table")
    }
    (s"$root/table", s"$root/mani0")
  }

  /** Incremental manifest refresh + pruned read
    * ([[graft.etl.LayoutOps.refreshFileManifest]]): the staged table
    * grew by 4 files AFTER its manifest was built; the refresh diffs
    * the directory listing against the stale manifest and stats ONLY
    * the new files (cost ∝ appended data — at 100 TB a full rebuild
    * per append is one whole-table scan, the r14 gap), then a
    * quarter's revenue plans against the refreshed manifest exactly as
    * `layout_manifest_skip` does. The oracle runs the plain quarter
    * over raw orders: a refresh that missed a new file or kept a stale
    * row would under/over-count and hash-red.
    */
  val layoutManifestRefresh = Q(
    "layout_manifest_refresh",
    (s, dir) => {
      val (table, mani0) = ensureStagedOrdersAppend(s, dir)
      val refreshed = LayoutOps.refreshFileManifest(s, table,
        s.read.parquet(mani0), Seq("o_orderdate"))
      Fragments.monthlyRevenue("1996-04-01", "1996-06-30") { (lo, hi) =>
        LayoutOps.manifestPrunedRead(s, table, refreshed, "o_orderdate", lo, hi)
      }
    },
    Some(Fragments.sqlMonthlyRevenue("1996-04-01", "1996-06-30")))

  /** Versioned orders table staged through TWO append commits
    * ([[graft.etl.CommitOps.appendCommit]] — even keys then odd keys),
    * so the latest snapshot holds the whole table across two commits'
    * immutable files. Returns the RUN DIR (ensureRunDir's memo dir);
    * the commit-protocol table root is `<returned>/table` — passing the
    * run dir itself to a snapshot reader finds no `_manifests`
    * (ADVICE r15).
    */
  def ensureOrdersCommits(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "orders_commits") { d =>
      val orders = Tables(s, dir, "orders")
      val root = s"$d/table"
      CommitOps.appendCommit(s, root,
        orders.filter(col("o_orderkey") % 2 === 0), Seq("o_orderdate"))
      CommitOps.appendCommit(s, root,
        orders.filter(col("o_orderkey") % 2 =!= 0), Seq("o_orderdate"))
    }

  /** Snapshot read over the append-committed table
    * ([[graft.etl.CommitOps.readSnapshot]]): the latest committed
    * manifest's immutable file list IS the table — per-status order
    * counts and exact revenue must equal the raw table (a commit
    * protocol that lost or duplicated an append's rows hash-reds
    * here). Reader isolation, crash-debris invisibility, compaction,
    * and vacuum retention are pinned in Round15Spec.
    */
  val layoutAppendCommit = Q(
    "layout_append_commit",
    (s, dir) => {
      val root = s"${ensureOrdersCommits(s, dir)}/table"
      Fragments.statusRevenue(CommitOps.readSnapshot(s, root))
    },
    Some(Fragments.sqlStatusRevenue("orders")))

  /** Range-clustered lineitem layout (16 files by l_orderkey) + its
    * file manifest — the fact side a join-key runtime filter prunes
    * against. Staged once per JVM (ensureRunDir).
    */
  def ensureRangeLineitem(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "lineitem_range16") { d =>
      Tables(s, dir, "lineitem")
        .repartitionByRange(16, col("l_orderkey"), col("l_linenumber"))
        .write.parquet(d)
    }

  def ensureLineitemManifest(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val table = ensureRangeLineitem(s, dir)
    graft.etl.LayoutOps.ensureRunDir(s, dir, "lineitem_range16_manifest") { d =>
      graft.etl.LayoutOps.buildFileManifest(s, table, Seq("l_orderkey"))
        .write.parquet(d)
    }
  }

  /** Join-key file skipping
    * ([[graft.etl.LayoutOps.manifestJoinPrunedRead]]): one customer's
    * order keys (a point-selective dim, resolved first) prune the
    * range-clustered lineitem's files through the manifest BEFORE the
    * join — the index-nested-loop pattern on plain parquet, and the
    * runtime-filter rung above `layout_manifest_skip`'s static
    * predicate pruning. At 100 TB this is the difference between a
    * full fact scan and opening the handful of files that can hold the
    * dim's keys. The oracle joins the raw tables: pruning must be
    * invisible in the answer (superset contract — the join provides
    * exactness), visible only in files opened (pinned in Round15Spec).
    */
  val layoutJoinSkip = Q(
    "layout_join_skip",
    (s, dir) => {
      val table = ensureRangeLineitem(s, dir)
      val mani = s.read.parquet(ensureLineitemManifest(s, dir))
      val orders = Tables(s, dir, "orders")
      val minCust = orders.agg(min(col("o_custkey"))).head().getLong(0)
      val dim = orders.filter(col("o_custkey") === minCust)
        .select(col("o_orderkey")).localCheckpoint()
      val fact = graft.etl.LayoutOps.manifestJoinPrunedRead(s, table, mani,
        "l_orderkey", dim)
      fact.join(broadcast(dim.select(col("o_orderkey").as("l_orderkey"))),
          Seq("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          Q.moneySum(col("l_extendedprice")).as("revenue"))
        .select(col("l_orderkey").as("o_orderkey"), col("n_items"),
          col("revenue"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o.o_orderkey, count(*)::BIGINT AS n_items,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey = (SELECT min(o_custkey) FROM orders)
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** Versioned orders table staged through one full commit
    * (key-clustered so merge pruning has intervals to cut) and one
    * copy-on-write MERGE commit: the min-custkey customer's orders
    * flip to status 'U' (updates) and re-insert under offset keys as
    * status 'I' (inserts). Returns the RUN DIR (ensureRunDir's memo
    * dir); the commit-protocol table root is `<returned>/table`
    * (ADVICE r15).
    */
  def ensureOrdersMergeCommit(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.etl.LayoutOps.ensureRunDir(s, dir, "orders_merge_commit") { d =>
      val root = s"$d/table"
      val orders = Tables(s, dir, "orders")
      CommitOps.appendCommit(s, root,
        orders.repartitionByRange(16, col("o_orderkey")), Seq("o_orderkey"))
      val minCust = orders.agg(min(col("o_custkey"))).head().getLong(0)
      val tgt = orders.filter(col("o_custkey") === minCust).localCheckpoint()
      CommitOps.mergeCommit(s, root,
        tgt.withColumn("o_orderstatus", lit("U"))
          .unionByName(tgt
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .withColumn("o_orderstatus", lit("I"))),
        "o_orderkey", Seq("o_orderkey"))
    }

  /** Copy-on-write MERGE commit ([[graft.etl.CommitOps.mergeCommit]]):
    * the snapshot after upserting one customer's orders (status flip)
    * plus fresh inserts must aggregate exactly as the SQL-replayed
    * upsert over the raw table — a merge that lost a survivor row,
    * duplicated a matched key, or dropped an insert hash-reds. The
    * file-level claim (only key-overlapping files rewrite; untouched
    * manifest rows survive verbatim) is pinned in Round15Spec.
    */
  val layoutMergeCommit = Q(
    "layout_merge_commit",
    (s, dir) => {
      val root = s"${ensureOrdersMergeCommit(s, dir)}/table"
      Fragments.statusRevenue(CommitOps.readSnapshot(s, root))
    },
    Some(s"""
      WITH mc AS (SELECT min(o_custkey) AS m FROM orders),
      t AS (SELECT o_orderkey,
              CASE WHEN o_custkey = (SELECT m FROM mc) THEN 'U'
                   ELSE o_orderstatus END AS o_orderstatus,
              o_totalprice
            FROM orders
            UNION ALL
            SELECT o_orderkey + 10000000, 'I', o_totalprice
            FROM orders WHERE o_custkey = (SELECT m FROM mc))
      ${Fragments.sqlStatusRevenue("t")}
    """.trim))

  val all: Seq[Q] = Seq(layoutManifestRefresh, layoutAppendCommit,
    layoutJoinSkip, layoutMergeCommit)
}
