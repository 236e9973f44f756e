package graft

import graft.etl.ShapeOps
import graft.sources.Sinks
import org.apache.spark.sql.functions._

class ShapeSinksSpec extends SparkSpec {
  import spark.implicits._

  test("Q1/A2 ragged rate and Q2 pad/truncate repair") {
    val rows = Seq(
      Seq("a", "b", "c"),          // exact
      Seq("a", "b"),               // short → pad
      Seq("a", "b", "c", "d", "e") // long → truncate
    ).toDF("row")
    val rate = ShapeOps.raggedRate(rows, "row", headerWidth = 3, sampleFraction = 1.0)
    assert(math.abs(rate - 2.0 / 3.0) < 1e-9)
    val fixed = rows.select(ShapeOps.repairRows(col("row"), 3).as("row")).collect()
    assert(fixed.forall(_.getSeq[String](0).length == 3))
    assert(fixed(1).getSeq[String](0) == Seq("a", "b", null))
    assert(fixed(2).getSeq[String](0) == Seq("a", "b", "c"))
  }

  test("S3 rows → columnar table with header") {
    val rows = Seq(Seq("1", "x"), Seq("2")).toDF("row")
    val t = ShapeOps.rowsToTable(rows, "row", Seq("id", "val")).orderBy("id").collect()
    assert(t(0).getString(0) == "1" && t(0).getString(1) == "x")
    assert(t(1).getString(0) == "2" && t(1).isNullAt(1))
  }

  test("S8 partitioned parquet sink round-trips and prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("sink_").toString + "/t"
    val df = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "A", 30.0)).toDF("id", "grp", "v")
    Sinks.writeParquet(df, dir, partitionBy = Seq("grp"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    // partition pruning: only the grp=A directory is scanned
    val plan = back.filter(col("grp") === "A").queryExecution.executedPlan.toString
    assert(back.filter(col("grp") === "A").count() == 2)
    assert(new java.io.File(dir, "grp=A").exists() && new java.io.File(dir, "grp=B").exists())
  }

  test("S10 full-refresh CSV export: header row, all-string, overwrite") {
    val dir = java.nio.file.Files.createTempDirectory("csv_").toString + "/out"
    val df = Seq((1L, "x")).toDF("id", "name")
    Sinks.writeCsvExport(df, dir)
    Sinks.writeCsvExport(df, dir) // overwrite = full refresh, no duplication
    val back = spark.read.option("header", "true").option("sep", ";").csv(dir)
    assert(back.columns.toSeq == Seq("id", "name") && back.count() == 1)
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = (1L to 200L).map(k => (k, s"o$k")).toDF("k", "ov")
    val l = (1L to 600L).map(i => (i % 200 + 1, s"l$i")).toDF("k", "lv")
    graft.sources.Sinks.writeBucketed(o, "b_orders", Seq("k"), 4)
    graft.sources.Sinks.writeBucketed(l, "b_lines", Seq("k"), 4)
    // force the large-table path (broadcast would mask the bucketing win
    // at this toy size)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lines"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"))
      assert(joined.count() == 600)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("GraftExtensions injection builds a working cosine expression") {
    // spark.sql.extensions is a *static* conf read at SparkContext
    // creation, so the SQL-config path can't be exercised on this
    // suite's shared context — DemoDrive (fresh JVM) covers it. Here:
    // the injection applies cleanly and its builder yields a correct
    // expression.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    val arr = Literal.create(Array(1.0, 0.0), ArrayType(DoubleType))
    val e = graft.functions.CosineSimilarity(arr, arr)
    assert(e.checkInputDataTypes().isSuccess)
    assert(e.eval(null).asInstanceOf[Double] == 1.0)
    val bad = graft.functions.CosineSimilarity(Literal(1), arr)
    assert(!bad.checkInputDataTypes().isSuccess)
  }

  test("GraftExtensions injects every kernel name that register installs") {
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    val before = reg.listFunction().toSet
    graft.functions.VectorExpressions.register(fresh)
    val registered = (reg.listFunction().toSet -- before).map(_.funcName)
    assert(registered.nonEmpty)
    val injected = org.apache.spark.sql.graft.InjectedFunctions.names(new graft.GraftExtensions)
    assert(injected === registered)
  }
}
