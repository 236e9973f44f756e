package graft

import org.apache.spark.sql.functions._

/** Round-17 pins (optimization round 2): the staged-artifact twins
  * added this round must equal their live ops pair-for-pair, and the
  * ensureRunDir staleness guard must rebuild when the source tree
  * changes instead of serving a stale artifact.
  */
class Round17Spec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "xx the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "a completely different sentence with many unrelated words in this row"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"),
    (5L, "short words only")
  ).toDF("doc_id", "text")

  test("span fromPostings over a persisted posting frame == live op") {
    import graft.ext.TextOps
    val dir = freshDir("span_fp_") + "/p"
    TextOps.spanPostings(docs, "doc_id", "text", n = 8).write.parquet(dir)
    val staged = TextOps.dupSpanStatsFromPostings(
        spark.read.parquet(dir), "doc_id")
      .orderBy(col("doc_id")).collect().toSeq
    val live = TextOps.dupSpanStats(docs, "doc_id", "text", n = 8)
      .orderBy(col("doc_id")).collect().toSeq
    assert(staged === live && staged.nonEmpty)
    // the 5-word doc carries no 8-gram span and must be absent
    assert(!staged.exists(_.getLong(0) == 5L))
  }

  test("simhash fromFingerprints over a persisted fingerprint frame == live op") {
    import graft.ext.Dedup
    val dir = freshDir("simhash_fp_") + "/p"
    Dedup.simhash32(docs, "doc_id", "text").write.parquet(dir)
    val staged = Dedup.simhashPairsFromFingerprints(
        spark.read.parquet(dir), "doc_id", maxHamming = 3)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    val live = Dedup.simhashCandidatePairs(docs, "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    assert(staged === live && staged.nonEmpty)
  }

  private val erRecs = Seq(
    (1L, "Customer#0001"), (2L, "Customer#0002"), (3L, "Custmer#0001"),
    (4L, "Cusotmer#0002"), (5L, "Customer#0003"), (6L, "Customer#0009"),
    (7L, "Wholly-Unrelated"), (8L, "Customer#0001")
  ).toDF("ck", "nm")

  private val erKeys = Seq(
    expr("right(nm, 5)"), expr("substring(nm, 1, length(nm) - 1)"))

  test("ER fromIndex over a persisted block index == live multi-pass ops") {
    import graft.ext.EntityOps
    val dir = freshDir("er_idx_") + "/p"
    EntityOps.blockedRecordIndex(erRecs, "ck", "nm", erKeys, maxBlock = 64)
      .write.parquet(dir)
    val idx = spark.read.parquet(dir)
    val liveMp = EntityOps.multiPassNamePairs(erRecs, "ck", "nm", erKeys,
        maxDist = 2, maxBlock = 64)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    val idxMp = EntityOps.multiPassPairsFromIndex(idx, maxDist = 2)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    assert(idxMp === liveMp && idxMp.nonEmpty)
    val liveAg = EntityOps.agreementNamePairs(erRecs, "ck", "nm", erKeys,
        maxDist = 2, tightDist = 1, minPasses = 2, maxBlock = 64)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    val idxAg = EntityOps.agreementPairsFromIndex(idx, maxDist = 2,
        tightDist = 1, minPasses = 2)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    assert(idxAg === liveAg && idxAg.nonEmpty)
    // the recall-first frontier tier is the pairs-with-passes frame
    // itself: same pair set as the live multi-pass verify
    val vp = EntityOps.pairsWithPassesFromIndex(idx, maxDist = 2)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        col("dist"))
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    assert(vp === liveMp)
  }

  test("entityTable from a persisted assignment == live entityTable") {
    import graft.ext.EntityOps
    val q = when(col("nm").rlike("^Customer#[0-9]+$"), 1.0).otherwise(0.0)
    val pairs = EntityOps.blockedNamePairs(erRecs, "ck", "nm",
      expr("right(nm, 5)"), maxDist = 2, maxBlock = 64)
    val live = EntityOps.entityTable(erRecs, pairs, "ck", "nm", q)
      .orderBy(col("entity_id")).collect().toSeq
    val dir = freshDir("er_cl_") + "/p"
    graft.ext.Dedup.clusterAssignment(erRecs.select(col("ck")),
        pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b")), "ck")
      .write.parquet(dir)
    val staged = EntityOps.entityTableFromAssignment(erRecs,
        spark.read.parquet(dir), "ck", "nm", q)
      .orderBy(col("entity_id")).collect().toSeq
    assert(staged === live && staged.nonEmpty)
    // the fixture must exercise a real multi-member entity
    assert(live.exists(_.getLong(4) > 1))
  }

  test("boundedPercentiles == the distributed-CDF percentiles, bit for bit") {
    import graft.etl.StatOps
    val ps = Seq("p10" -> 0.1, "p50" -> 0.5, "p67" -> 2.0 / 3, "p100" -> 1.0)
    // odd and even counts, duplicate values, negative values — both the
    // exact-index and interpolated branches
    for (vals <- Seq(Seq(3.0, 1.0, 2.0), Seq(5.5, -1.25, 0.0, 5.5),
        (1 to 17).map(i => (i * 7 % 13).toDouble))) {
      val df = vals.toDF("v")
      val cdf = StatOps.percentiles(df, Nil, "v", ps).collect().toSeq
      val bnd = StatOps.boundedPercentiles(df, "v", ps).collect().toSeq
      assert(bnd === cdf, s"mismatch on $vals")
    }
  }

  test("graft_frame_energies kernel == the HOF ascii/substring form") {
    graft.functions.VectorExpressions.register(spark)
    // partial last frame, exactly-one-frame, and a non-ASCII codepoint
    // (é = 233, ✓ = 10003) to pin codepoint — not byte — semantics
    val df = Seq(
      "abcdefgh", "abc", "a", "café ✓ done",
      ("xy" * 100) + "z"
    ).toDF("text").filter(length(col("text")) > 0)
    val kern = df.select(posexplode(expr("graft_frame_energies(text, 8)"))
        .as(Seq("frame_no", "fe")))
      .select(col("frame_no"), col("fe.n_samples"), col("fe.energy"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val hof = df.select(posexplode(expr(
        """transform(sequence(0, int(ceil(length(text) / 8.0)) - 1),
           i -> substring(text, i * 8 + 1, 8))""")).as(Seq("frame_no", "chunk")))
      .select(col("frame_no"), length(col("chunk")).cast("long"),
        expr("""aggregate(transform(sequence(1, length(chunk)),
             p -> ascii(substring(chunk, p, 1)) * ascii(substring(chunk, p, 1))),
           0L, (a, x) -> a + cast(x as bigint))"""))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(kern === hof && kern.nonEmpty)
  }

  test("ensureRunDir rebuilds when the source tree changes (staleness guard)") {
    val src = freshDir("src_guard_")
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "a.txt"),
      "one".getBytes("UTF-8"))
    def build(out: String): Unit = {
      val n = new java.io.File(src).listFiles().length.toLong
      Seq(n).toDF("n_source_files").write.parquet(out)
    }
    val d1 = graft.etl.LayoutOps.ensureRunDir(spark, src, "guard_probe")(build)
    assert(spark.read.parquet(d1).as[Long].head() === 1L)
    // memoized while the source is unchanged
    val d2 = graft.etl.LayoutOps.ensureRunDir(spark, src, "guard_probe")(build)
    assert(d1 === d2 && spark.read.parquet(d2).as[Long].head() === 1L)
    // an appended source file invalidates the artifact: the next call
    // must REBUILD (content reflects the new source), never serve stale
    Thread.sleep(5) // mtime tick for filesystems with coarse stamps
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b.txt"),
      "two".getBytes("UTF-8"))
    val d3 = graft.etl.LayoutOps.ensureRunDir(spark, src, "guard_probe")(build)
    assert(spark.read.parquet(d3).as[Long].head() === 2L)
  }

  test("ensureIvfPqIndex retrains its model when the source tree changes") {
    val src = freshDir("ivfpq_src_")
    new java.io.File("/root/testdata/sf0.001").listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(src, f.getName))
    }
    def parts(d: String) = new java.io.File(d).list().filter(_.startsWith("part-")).toSet
    val (d1, m1) = graft.queries.Extensions.ensureIvfPqIndex(spark, src)
    val files1 = parts(d1)
    val (d2, m2) = graft.queries.Extensions.ensureIvfPqIndex(spark, src)
    assert(d2 === d1 && (m2 eq m1) && parts(d2) === files1)
    // an unrelated file changes the fingerprint: index AND model rebuild
    Thread.sleep(5) // mtime tick for filesystems with coarse stamps
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "unrelated.txt"),
      "x".getBytes("UTF-8"))
    val (d3, m3) = graft.queries.Extensions.ensureIvfPqIndex(spark, src)
    assert(d3 === d1 && parts(d3).nonEmpty && parts(d3) != files1)
    assert(!(m3 eq m1), "a stale IVF-PQ model was served after a source change")
  }
}
