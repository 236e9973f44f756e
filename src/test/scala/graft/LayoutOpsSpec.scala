package graft

import graft.etl.LayoutOps
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Layout operators: the plan-level guarantees the Breadth5 registry
  * queries rely on — bucketed joins skip the shuffle, partition filters
  * prune at the directory listing, and the z-value matches a bit-twiddled
  * reference.
  */
class LayoutOpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("bucketed testdata tables join without a shuffle exchange") {
    val ot = LayoutOps.ensureBucketed(spark, sfDir, "orders", Seq("o_orderkey"), 4)
    val lt = LayoutOps.ensureBucketed(spark, sfDir, "lineitem", Seq("l_orderkey"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table(lt).join(spark.table(ot),
        col("l_orderkey") === col("o_orderkey"))
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("Bucketed: true"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("month partition filter prunes directories, not just rows") {
    val d = LayoutOps.ensurePartitionedOrders(spark, sfDir)
    val q = spark.read.parquet(d).filter(col("o_month") === "1995-03")
    q.count()
    val scans = collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    // the pruned scan lists exactly the one month's files
    assert(scan.metadata("PartitionFilters").contains("o_month"),
      s"expected a partition filter, got ${scan.metadata("PartitionFilters")}")
    val monthsTotal = spark.read.parquet(d).select("o_month").distinct().count()
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 of $monthsTotal partitions after pruning")
  }

  test("runtime-derived month dim triggers dynamic partition pruning") {
    val d = LayoutOps.ensurePartitionedOrders(spark, sfDir)
    val hot = graft.etl.Tables(spark, sfDir, "lineitem")
      .filter(col("l_quantity") >= 25)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("o_month"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      .orderBy(col("qty").desc, col("o_month")).limit(3)
      .select("o_month")
    val q = spark.read.parquet(d).join(hot, "o_month")
    q.count()
    val scans = collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.metadata("Location").contains("orders_by_month") => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.metadata("PartitionFilters").contains("dynamicpruning"),
      s"expected a dynamic pruning filter, got ${scans.head.metadata("PartitionFilters")}")
  }

  test("zValue interleaves bits like the reference loop") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map { b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
      }.sum
    val rnd = new scala.util.Random(11)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L)) ++
      Seq.fill(50)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), LayoutOps.zValue(col("x"), col("y"), 16).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === ref(r.getLong(0), r.getLong(1), 16),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
    // z-order locality sanity: interleave is monotone in each coordinate
    // when the other is fixed
    assert(ref(5, 9, 16) < ref(6, 9, 16) && ref(5, 9, 16) < ref(5, 10, 16))
  }

  test("compact rewrites a many-small-files dir into evenly sized files") {
    val root = java.nio.file.Files.createTempDirectory("compact_").toString
    spark.range(10000).selectExpr("id", "id * 2 AS v")
      .repartition(50).write.parquet(s"$root/in")
    def parts(d: String) = new java.io.File(d).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(s"$root/in") === 50)
    val inBytes = new java.io.File(s"$root/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val n = LayoutOps.compact(spark, s"$root/in", s"$root/out", inBytes / 2)
    assert(n >= 2 && n <= 4, s"expected ~2-3 target files, got $n")
    assert(parts(s"$root/out") === n)
    // content preserved exactly
    val a = spark.read.parquet(s"$root/in").orderBy("id").collect()
    val b = spark.read.parquet(s"$root/out").orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
  }

  // `ensureRunDir` is the staging primitive formerly named `ensureDir`;
  // the test keeps that name.
  test("ensureDir is idempotent and clears a partial write") {
    val dir = LayoutOps.ensureRunDir(spark, sfDir, "idem_probe") { out =>
      Seq(1L, 2L).toDF("v").write.parquet(out)
    }
    // second call must NOT rewrite (writer would throw if invoked: the
    // path already exists and the writer uses default error-out mode)
    val again = LayoutOps.ensureRunDir(spark, sfDir, "idem_probe") { _ =>
      fail("write closure must not run when _SUCCESS exists")
    }
    assert(again === dir)
    assert(spark.read.parquet(dir).count() === 2)
    // partial dir (no _SUCCESS) is cleared and rewritten
    val partial = new java.io.File(dir + "_partial")
    assert(partial.mkdirs())
    java.nio.file.Files.write(partial.toPath.resolve("junk"), "x".getBytes)
    val fixed = LayoutOps.ensureRunDir(spark, sfDir, "idem_probe_partial") { out =>
      Seq(3L).toDF("v").write.parquet(out)
    }
    assert(fixed === partial.getPath)
    assert(spark.read.parquet(fixed).count() === 1)
    assert(!new java.io.File(fixed, "junk").exists())
  }
}
