package graft

import org.apache.spark.sql.SparkSession

/** Steady-state benchmark: times each registered query `reps` times and
  * reports min/median — separating one-time plan/codegen cost and box
  * noise from steady-state cost (the driver's Bench is single-shot, so
  * its total is ~85% per-query fixed cost at sf0.1 and swings tens of
  * percent run-to-run; see BASELINE.md). Run:
  *   SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.BenchDetail [reps] [jsonOut]"
  * With `jsonOut`, writes the machine-readable artifact (committed as
  * BENCHDETAIL_r{N}.json per round) so regressions are separable from
  * noise without a judge rerun: compare `median` per query, not the
  * single-shot BENCH number.
  */
object BenchDetail {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val jsonOut = if (args.length >= 2 && args(1) != "-") Some(args(1)) else None
    // dev-loop convenience: extra args select queries by name substring
    val filters = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same one-time warm-ups and box-speed probes as `Bench.main`
    Bench.warmUp(spark, sfDir)
    val (calib, calibFixed) = Bench.calibrate(spark)
    // Per-query job counter (VERDICT r15 item 3): sub-second medians are
    // dominated by per-job fixed cost, so a drifting median decomposes as
    // calib_fixed_s × n_jobs — without the count, adjudication has to
    // guess (the r15 graph_ppr/cluster-family problem). Counted with a
    // listener; the bus is async, so the count is read AFTER the rep's
    // (untimed) unpersist housekeeping and the per-query value is the MAX
    // over reps — lag can only undercount, never overcount, and the true
    // count is constant per plan (AQE may vary it by ±1).
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    })
    // the fixed-overhead probe's own shape (one single-stage job) — the
    // unit n_jobs multiplies against; emitted in the header
    val calibFixedJobs = {
      Thread.sleep(50)
      val j0 = jobCount.get()
      spark.range(0, 100000, 1, 32).selectExpr("sum(id % 113) AS s").collect()
      Thread.sleep(50)
      jobCount.get() - j0
    }
    println(f"calib_s $calib%.3f calib_fixed_s $calibFixed%.4f calib_fixed_n_jobs $calibFixedJobs")
    // a query that crashes must NOT record its (near-zero) failure-path
    // timing — in the committed regression artifact that would read as a
    // dramatic speedup; it records err instead and is excluded from totals
    val selected =
      if (filters.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => filters.exists(n.contains) }
    val rows = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      var err: Option[String] = None
      var nJobs = 0
      val times = (1 to reps).map { _ =>
        // snapshot BEFORE the rep so the cleanup below is scoped to the
        // rep's own residue — a future cross-query persisted frame (or a
        // memoized localCheckpoint-backed artifact, whose lineage is
        // truncated and unrecoverable once evicted) must survive the
        // loop (ADVICE r11)
        val preexisting = spark.sparkContext.getPersistentRDDs.keySet
        val jobs0 = jobCount.get()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch {
          case t: Throwable => err = Some(t.getClass.getSimpleName)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop the rep's localCheckpoint blocks OUTSIDE the timed
        // section: 282 queries x reps, many checkpointing sf0.1-scale
        // frames, otherwise accumulate in the block manager until later
        // queries lose execution memory to storage residue (measured
        // as a broad ~16% drift on untouched queries as the registry
        // grew). A real job runs one query per app; the residue is a
        // bench artifact, not a query property. Logical-plan caches and
        // the parquet run dirs are untouched.
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!preexisting.contains(id)) rdd.unpersist(false)
        }
        nJobs = math.max(nJobs, jobCount.get() - jobs0)
        dt
      }.sorted
      (name, times.head, times(times.size / 2), nJobs, err)
    }
    val ok = rows.filter(_._5.isEmpty)
    println(f"${"query"}%-28s ${"min"}%8s ${"median"}%8s ${"jobs"}%5s")
    ok.sortBy(-_._3).foreach { case (n, mn, md, nj, _) => println(f"$n%-28s $mn%8.3f $md%8.3f $nj%5d") }
    rows.collect { case (n, _, _, _, Some(e)) => println(f"$n%-28s ERR $e") }
    println(f"TOTAL(median) ${ok.map(_._3).sum}%.2f s  TOTAL(min) ${ok.map(_._2).sum}%.2f s" +
      (if (ok.size < rows.size) s"  (${rows.size - ok.size} ERRORED)" else ""))
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    jsonOut.foreach { path =>
      val qs = rows.sortBy(-_._3).map {
        case (n, mn, md, nj, None) =>
          s""""$n":{"min":${fmt(mn)},"median":${fmt(md)},"n_jobs":$nj}"""
        case (n, _, _, _, Some(e)) => s""""$n":{"err":"$e"}"""
      }.mkString(",")
      val json =
        s"""{"reps":$reps,"sf":"$sfDir","cpus":$cpus,""" +
          s""""calib_s":${fmt(calib)},""" +
          s""""calib_fixed_s":${fmt(calibFixed)},""" +
          s""""calib_fixed_n_jobs":$calibFixedJobs,""" +
          s""""total_median":${fmt(ok.map(_._3).sum)},""" +
          s""""total_min":${fmt(ok.map(_._2).sum)},""" +
          s""""n_err":${rows.size - ok.size},""" +
          s""""nq":${rows.size},"queries":{$qs}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      println(s"wrote $path")
    }
    spark.stop()
  }
}
