package graft.queries

import graft.etl.{LayoutOps, SkewOps, Tables}
import graft.sources.{CsvSource, Sinks}
import org.apache.spark.sql.functions._

/** Round-4 breadth: storage-layout operators (bucketed co-located join,
  * partition-pruned scan, z-order clustering), the salted skew join as a
  * gate-checked query, and source-format round-trips (the reference's
  * CSV edge + ORC) — the ingest/layout surface that decides query cost
  * at 100 TB, each verified against a DuckDB oracle over the original
  * parquet (a round-trip or re-layout must change NOTHING about the
  * answers).
  */
object Breadth5 {

  /** Fact-to-fact join over hash-bucketed tables: both sides were
    * bucketed on the join key at write time (LayoutOps.ensureBucketed),
    * so the join reads co-located buckets — at scale this is the only
    * strategy that amortizes a repeated big join's shuffles across
    * queries. The answers are identical to the plain join (oracle).
    */
  val layoutBucketedJoin = Q(
    "layout_bucketed_join",
    (s, dir) => {
      val ot = LayoutOps.ensureBucketed(s, dir, "orders", Seq("o_orderkey"), 8)
      val lt = LayoutOps.ensureBucketed(s, dir, "lineitem", Seq("l_orderkey"), 8)
      Fragments.priorityRevenue(
        s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey")))
    },
    Some(Fragments.PriorityRevenueOracle))

  /** Static partition pruning: orders live as o_month=yyyy-MM directories
    * (LayoutOps.ensurePartitionedOrders); the month filter prunes at the
    * directory listing, so the scan touches one month of files out of
    * ~80 — the layout that turns a 100 TB time-range query into a 1 TB
    * one. Oracle recomputes the month from the raw table.
    */
  val layoutPartitionPrune = Q(
    "layout_partition_prune",
    (s, dir) => {
      val d = LayoutOps.ensurePartitionedOrders(s, dir)
      s.read.parquet(d)
        .filter(col("o_month") === "1995-03")
        .select(col("o_orderkey"), col("o_custkey"), col("o_month"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m') AS o_month
      FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
      ORDER BY o_orderkey
    """.trim))

  /** Dynamic partition pruning: the month-partitioned orders fact joins
    * a 3-row "hot months" dimension DERIVED AT RUNTIME (top shipping
    * months by quantity) — the months aren't known at plan time, so
    * static pruning can't apply; Spark broadcasts the dim, turns it
    * into a runtime partition filter, and the fact scan reads 3 month
    * directories instead of ~80. The oracle recomputes both sides from
    * the raw tables.
    */
  val layoutDynamicPrune = Q(
    "layout_dynamic_prune",
    (s, dir) => {
      val d = LayoutOps.ensurePartitionedOrders(s, dir)
      val hot = Tables(s, dir, "lineitem")
        .filter(col("l_quantity") >= 25)
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("o_month"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .orderBy(col("qty").desc, col("o_month")).limit(3)
        .select("o_month")
      s.read.parquet(d).join(hot, "o_month")
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("o_month"))
    },
    Some("""
      WITH hot AS (SELECT strftime(l_shipdate, '%Y-%m') AS o_month,
                          sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
                   FROM lineitem WHERE l_quantity >= 25
                   GROUP BY 1 ORDER BY qty DESC, o_month LIMIT 3)
      SELECT o.o_month, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM (SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_totalprice FROM orders) o
      JOIN hot USING (o_month)
      GROUP BY o.o_month ORDER BY o.o_month
    """.trim))

  /** Morton/z-order clustering value over (custkey, orderkey): bit b of
    * each key interleaves to positions 2b/2b+1, giving files sorted by
    * `zval` min/max locality in BOTH dimensions (row-group stats then
    * prune 2-D predicates a single-column sort cannot). Pure arithmetic,
    * bit-exact in both engines.
    */
  val layoutZorder = Q(
    "layout_zorder",
    (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          LayoutOps.zValue(col("o_custkey") % 65536, col("o_orderkey") % 65536, 16)
            .as("zval"))
        .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CAST(list_sum(list_transform(range(16), b ->
               ((((o_custkey % 65536) >> b) & 1) << (2 * b)) +
               ((((o_orderkey % 65536) >> b) & 1) << (2 * b + 1)))) AS BIGINT) AS zval
      FROM orders ORDER BY o_orderkey
    """.trim))

  /** Salted skew join as a gate-checked query: the probe side's keys
    * shard over 8 salt buckets (deterministic salt from l_partkey) and
    * the build side replicates per bucket, so one dominant key spreads
    * over 8 tasks instead of serializing one sort-merge run — the
    * deterministic fallback when AQE skew-splitting can't apply. Same
    * answers as the plain join (oracle).
    */
  val j12SaltedSkewJoin = Q(
    "j12_salted_skew_join",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_extendedprice"), col("l_discount"))
      val or = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Fragments.priorityRevenue(
        SkewOps.saltedJoin(li, or, Seq("l_orderkey"), "l_partkey", buckets = 8))
    },
    Some(Fragments.PriorityRevenueOracle))

  /** CSV round-trip through the engine's own source/sink pair: orders →
    * full-refresh semicolon CSV export (S10: all-string, header row) →
    * reference-tolerant CSV scan (S1: driver-side header, explicit
    * all-string schema, PERMISSIVE) → typed aggregate. The export/ingest
    * edge must be lossless: the aggregate matches DuckDB over the
    * original parquet.
    */
  val srcCsvRoundtrip = Q(
    "src_csv_roundtrip",
    (s, dir) => {
      // Per-run artifact (not the cross-JVM layout cache): the CSV bytes
      // depend on the export writer's code, so a stale cache entry from
      // an older build would poison values while keeping rows/schema.
      val d = LayoutOps.ensureRunDir(s, dir, "orders_csv") { out =>
        Sinks.writeCsvExport(
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority"))
            .coalesce(1),
          out)
      }
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val file = fs.listStatus(p).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head.toString
      CsvSource.readReferenceCsv(s, file, sep = ";", encoding = "UTF-8", skipLines = 0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("double").cast("decimal(18,2)"))
            .cast("double").as("sum_price"),
          sum(col("o_orderkey").cast("long")).as("sum_key"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """.trim))

  /** ORC round-trip: lineitem columns written once as ORC (the second
    * columnar format a warehouse speaks), read back, aggregated — must
    * match DuckDB over the original parquet exactly.
    */
  val srcOrcRoundtrip = Q(
    "src_orc_roundtrip",
    (s, dir) => {
      val d = LayoutOps.ensureRunDir(s, dir, "lineitem_orc") { out =>
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .write.orc(out)
      }
      s.read.orc(d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """.trim))

  /** Overlapping 50-word chunks every 40 words (10-word overlap) — the
    * RAG/context chunking op, shuffle-free scan-side per doc; chunk
    * content is pinned by md5 so the oracle checks the exact text of
    * every chunk, not just counts.
    */
  val textChunkWindows = Q(
    "text_chunk_windows",
    (s, dir) =>
      graft.ext.TextOps.chunkWindows(Tables(s, dir, "documents"),
          "doc_id", "text", window = 50, step = 40)
        .orderBy(col("doc_id"), col("chunk_no")),
    Some(s"""
      WITH norm AS (SELECT doc_id, ${Fragments.NormW} AS w FROM documents),
      c AS (SELECT doc_id, w,
              unnest(range(CAST(ceil(greatest(len(w) - 10, 1) / 40.0) AS BIGINT))) AS chunk_no
            FROM norm)
      SELECT doc_id, chunk_no,
             md5(array_to_string(list_slice(w, chunk_no * 40 + 1, chunk_no * 40 + 50), ' ')) AS chunk_md5,
             len(list_slice(w, chunk_no * 40 + 1, chunk_no * 40 + 50))::BIGINT AS n_words
      FROM c ORDER BY doc_id, chunk_no
    """.trim))

  /** Concatenate-and-cut packing into 512-token windows — how a
    * pretraining corpus is cut. The Spark side computes the global
    * running token total as a distributed prefix sum (range partition +
    * per-partition cumsum + broadcast offsets), never a one-task global
    * window; the oracle is the plain SQL running sum.
    */
  val textPackWindows = Q(
    "text_pack_windows",
    (s, dir) =>
      graft.ext.TextOps.packWindows(Tables(s, dir, "documents"),
          "doc_id", "text", windowTokens = 512)
        .orderBy(col("doc_id")),
    Some(s"""
      WITH n AS (SELECT doc_id, len(${Fragments.NormW})::BIGINT AS n_tokens FROM documents),
      ${Fragments.sqlPackWindows("n")}
    """.trim))

  def all: Seq[Q] = Seq(
    layoutBucketedJoin, layoutPartitionPrune, layoutDynamicPrune, layoutZorder,
    j12SaltedSkewJoin, srcCsvRoundtrip, srcOrcRoundtrip,
    textChunkWindows, textPackWindows)
}
