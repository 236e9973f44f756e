package graft

import graft.ext.{Dedup, Similarity}
import graft.sources.LocalFsConnector
import org.apache.spark.sql.functions._

/** Round-5 additions: connector seam, scan-side IVF assignment,
  * LSH-band Jaccard, centroid inline cap, per-run layout artifacts,
  * plan-hygiene regression guards for the round-4/5 fixes.
  */
class Round5Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---- connector seam ----------------------------------------------------

  test("LocalFsConnector.readSheet: header row, ragged repair, all-string") {
    val dir = java.nio.file.Files.createTempDirectory("sheet_")
    val f = dir.resolve("s.csv")
    java.nio.file.Files.writeString(f,
      "a,b,c\n1,2,3\n4,5\n6,7,8,9\n")
    val got = LocalFsConnector.readSheet(spark, f.toString)
    assert(got.columns.toSeq === Seq("a", "b", "c"))
    assert(got.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    val rows = got.orderBy("a").collect().map(r =>
      (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
    // short row null-pads, long row truncates — gsheets ragged repair
    assert(rows.toSeq === Seq(
      ("1", Some("2"), Some("3")),
      ("4", Some("5"), None),
      ("6", Some("7"), Some("8"))))
  }

  test("EtlRunner routes ALL remote I/O through an injected connector") {
    // a delegating connector that counts calls: if any pipeline step
    // bypassed the seam (direct CsvSource/Sinks call), the counters
    // would stay zero while the run still succeeded
    object Counting extends graft.sources.SourceConnector
        with graft.sources.SinkConnector {
      var lists = 0; var reads = 0; var writes = 0
      def listObjects(s: org.apache.spark.sql.SparkSession, c: String) = {
        lists += 1; LocalFsConnector.listObjects(s, c)
      }
      def readCsv(s: org.apache.spark.sql.SparkSession, o: String, sep: String,
          enc: String, skip: Int) = {
        reads += 1; LocalFsConnector.readCsv(s, o, sep, enc, skip)
      }
      def readSheet(s: org.apache.spark.sql.SparkSession, o: String, sep: String,
          enc: String) = LocalFsConnector.readSheet(s, o, sep, enc)
      def writeTable(df: org.apache.spark.sql.DataFrame, t: String,
          p: Seq[String]) = { writes += 1; LocalFsConnector.writeTable(df, t, p) }
      def writeFullRefreshExport(df: org.apache.spark.sql.DataFrame, t: String,
          sep: String) = LocalFsConnector.writeFullRefreshExport(df, t, sep)
    }
    val raw = java.nio.file.Files.createTempDirectory("raw5_")
    val modeled = java.nio.file.Files.createTempDirectory("mod5_")
    val header = "Radicado;Fecha Radicacion;Procedencia;Detalle;Naturaleza;" +
      "Medio;Expediente;Destino;Rpta;Opciones"
    java.nio.file.Files.write(raw.resolve("raw_radicados.csv"),
      (Seq("JUNK", header) :+
        "100;15/03/2024 14:30;PEPE;asunto;N;WEB;E1;MARIA LOPEZ;0;")
        .mkString("\n").getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
    val r = graft.etl.EtlRunner.run(spark, raw.toString, modeled.toString,
      "radicados", java.sql.Date.valueOf("2026-08-12"),
      graft.etl.Dictionaries.radicados,
      runId = "run-counting", runTs = java.time.LocalDateTime.of(2026, 8, 12, 0, 0),
      source = Counting, sink = Counting)
    assert(r.rows == 1L)
    assert(Counting.lists == 1 && Counting.reads == 1 && Counting.writes >= 1)
  }

  // ---- scan-side IVF assignment ------------------------------------------

  test("ivfTopK plans no Window and no join for corpus assignment") {
    val emb = graft.etl.Tables(spark, sf, "embeddings")
    val df = Similarity.ivfTopK(spark, emb, emb.filter($"vec_id" % 100 === 0),
      emb.filter($"vec_id" % 37 === 0),
      "vec_id", "embedding", "vec_id", "embedding", k = 5, nprobe = 2)
    // string form traverses through the AQE root (collect() cannot)
    val plan = df.queryExecution.executedPlan.toString
    val windows = "Window \\[".r.findAllIn(plan).size
    assert(windows >= 1, "top-k rank window expected") // the k-rank stays
    // but no window may rank the CORPUS side: exactly one Window (per-query
    // top-k over candidates), and no nested-loop/cartesian anywhere
    assert(windows == 1, s"corpus-side rank window leaked back:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"assignment re-introduced a cross join:\n${plan.take(2000)}")
  }

  test("centroid inline cap fails loudly on a corpus-sized 'centroid' table") {
    val v = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val big = spark.range(Similarity.MaxInlineCentroids + 1)
      .select($"id".as("cid"), array(lit(1.0), lit(0.0)).as("cv"))
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansAssign(spark, v, big, "vec_id", "embedding", "cid", "cv")
    }
    assert(e.getMessage.contains("inline cap"))
  }

  // ---- LSH-band Jaccard --------------------------------------------------

  test("ngramJaccardPairsLsh: band-candidates ∩ exact threshold, subset of exhaustive") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
      (3L, "completely different text with no overlap here at all"),
      (4L, "the quick brown fox jumps over the lazy dog")    // exact dup of 1
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // exact dup must collide in every band and pass at jaccard 1.0
    assert(got.contains((1L, 4L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    // every LSH pair is also an exhaustive-Jaccard pair (precision is exact)
    val exhaustive = Dedup.ngramJaccardPairs(
        docs.withColumn("bucket", lit("all")), "doc_id", "text", "bucket", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exhaustive), s"got=$got exhaustive=$exhaustive")
  }

  // ---- funnel: single scan of the event log ------------------------------

  test("funnel reads the event log once per stage, not O(stages²)") {
    val stages = Seq("signup", "click", "purchase")
    val df = graft.etl.EventOps.funnel(
      graft.etl.Tables(spark, sf, "events"), "user_id", "event_type", "ts", stages)
    // each per-stage subtree is checkpointed, so the FINAL plan (union of
    // per-stage completions) must contain no parquet scan of the events
    // table at all — stage tables are materialized scan results
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet") && !plan.contains("events.parquet"),
      s"final funnel plan re-reads the event log — checkpoint regression:\n${plan.take(2000)}")
    assert(df.columns.toSeq ===
      Seq("stage_idx", "stage", "user_id", "completed_at"))
  }

  test("funnel stage_idx sorts correctly past 9 stages where labels cannot") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val names = (1 to 11).map(i => s"s$i")
    val evs = names.zipWithIndex.map { case (n, i) => (1L, n, t(10L + i)) }
      .toDF("user_id", "event_type", "ts")
    val got = graft.etl.EventOps.funnel(evs, "user_id", "event_type", "ts", names)
      .orderBy("stage_idx").select("stage_idx", "stage")
      .as[(Int, String)].collect()
    assert(got.map(_._1).toSeq === (1 to 11))
    assert(got.last._2 === "11_s11")
    // lexical label order would interleave (10_s10 < 2_s2) — stage_idx must not
    assert(got.map(_._2).toSeq !== got.map(_._2).sorted.toSeq)
  }

  // ---- BFS early exit ----------------------------------------------------

  test("bfsLayers stops at frontier exhaustion, result unchanged") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val src = Seq(1L).toDF("node")
    // maxDepth far past the diameter: early exit must not change layers
    val got = graft.ext.GraphOps.bfsLayers(edges, src, maxDepth = 50)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  // ---- int8 quantization -------------------------------------------------

  test("quantizeInt8: codes in [-127,127], bounded error, zero vector safe") {
    val v = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),      // zero vector: scale 0, codes 0
      (3L, Seq(100.0f, -100.0f, 3.0f, 0.1f))) // large dynamic range
      .toDF("vec_id", "embedding")
    val got = graft.ext.Similarity.quantizeInt8(v, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Int](2), r.getDouble(3))).toMap
    got.values.foreach { case (_, codes, _) =>
      assert(codes.forall(c => c >= -127 && c <= 127)) }
    // max element quantizes to exactly ±127
    assert(got(1L)._2(1) === -127)
    assert(got(3L)._2(0) === 127 && got(3L)._2(1) === -127)
    // reconstruction error is bounded by half a quantization step
    got.foreach { case (id, (scale, _, err)) =>
      assert(err <= scale / 2 + 1e-9, s"vec $id err=$err scale=$scale") }
    assert(got(2L) === ((0.0, Seq(0, 0, 0, 0), 0.0)))
  }

  test("quantized top-k recall vs exact top-k is near-perfect") {
    val exact = graft.queries.Registry.queries("ann_cosine_topk")(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = graft.queries.Registry.queries("ann_quantized_topk")(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = (exact & quant).size.toDouble / exact.size
    // int8 perturbs cosine by <1%; top-5 membership should barely move
    assert(recall >= 0.9, s"recall@5 after int8 quantization: $recall")
  }

  // ---- mixture sampling --------------------------------------------------

  test("mixtureSample: keeps under-target strata whole, downsamples over-target, drops unlisted") {
    val docs = ((1L to 100L).map(i => (i, "en")) ++ (101L to 110L).map(i => (i, "es")) ++
      (111L to 120L).map(i => (i, "xx"))).toDF("doc_id", "lang")
    val got = graft.etl.SampleOps.mixtureSample(docs, "lang", "doc_id",
        Map("en" -> 10L, "es" -> 50L))
      .as[(Long, String)].collect()
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    // es: modulus 1 (10 < 50 target) → all 10 kept; xx: unlisted → dropped
    assert(byLang.getOrElse("es", 0) === 10)
    assert(!byLang.contains("xx"))
    // en: modulus 10 → ~1-in-10 systematic keep, deterministic
    assert(byLang.getOrElse("en", 0) > 0 && byLang("en") < 30)
    val again = graft.etl.SampleOps.mixtureSample(docs.repartition(7), "lang", "doc_id",
        Map("en" -> 10L, "es" -> 50L))
      .as[(Long, String)].collect()
    assert(got.toSet === again.toSet) // partitioning-invariant
    // scan-side: the selection plans no Window over the corpus
    val plan = graft.etl.SampleOps.mixtureSample(docs, "lang", "doc_id",
        Map("en" -> 10L)).queryExecution.executedPlan.toString
    assert(!plan.contains("Window "), plan.take(800))
  }

  // ---- PPS stride guard --------------------------------------------------

  test("ppsSystematicSample fails loudly when total weight < n (stride 0)") {
    val tiny = Seq((1L, 3L), (2L, 4L)).toDF("doc_id", "n_chars") // total 7 < n
    val e = intercept[Exception] {
      graft.etl.SampleOps.ppsSystematicSample(tiny, "doc_id", "n_chars", n = 100)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("stride would be 0")), e.toString)
  }

  // ---- repetition + decontamination --------------------------------------

  test("withRepetition: looped text scores high, varied text zero, short text safe") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),  // 4 trigrams, 1 distinct
      (2L, "one two three four five six"),     // 4 trigrams, all distinct
      (3L, "hi")                               // too short: 0 ngrams
    ).toDF("doc_id", "text")
    val got = graft.ext.TextOps.withRepetition(docs, "text")
      .select("doc_id", "n_ngrams", "n_distinct", "rep_ratio")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 1L, 0.75)))
    assert(got(2L) === ((2L, 4L, 4L, 0.0)))
    assert(got(3L) === ((3L, 0L, 0L, 0.0)))
  }

  test("contaminationPairs: counts shared distinct n-grams, respects threshold") {
    val phrase = (1 to 12).map(i => s"w$i").mkString(" ") // 5 shared 8-grams
    val bench = Seq((100L, phrase)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"prefix words here $phrase"),       // shares all 5 benchmark 8-grams
      (2L, (20 to 40).map(i => s"x$i").mkString(" "))  // no overlap
    ).toDF("doc_id", "text")
    val hit = graft.ext.TextOps.contaminationPairs(corpus, bench, "doc_id", "text",
        n = 8, minOverlap = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(hit === Set((1L, 100L, 5L)))
    val none = graft.ext.TextOps.contaminationPairs(corpus, bench, "doc_id", "text",
        n = 8, minOverlap = 6)
      .count()
    assert(none === 0L)
  }

  // ---- real image decode -------------------------------------------------

  test("decodeImages decodes genuine PNG bytes: dims, channels, channel means") {
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, png(8, 4, 0xff0000)),            // solid red 8×4
      (2L, png(3, 5, 0x2040ff)),            // solid blue-ish 3×5
      (3L, "not an image".getBytes("UTF-8")) // corrupt: dropped, not fatal
    ).toDF("doc_id", "media")
    val got = graft.ext.Multimodal.decodeImages(spark, media)
      .collect().map(f => f.doc_id -> f).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got.values.forall(_.format === "png"))
    assert(got(1L).width === 8 && got(1L).height === 4 && got(1L).channels === 3)
    assert(got(1L).mean_r === 255.0 && got(1L).mean_g === 0.0 && got(1L).mean_b === 0.0)
    assert(got(2L).width === 3 && got(2L).height === 5)
    assert(got(2L).mean_r === 0x20.toDouble && got(2L).mean_g === 0x40.toDouble &&
      got(2L).mean_b === 0xff.toDouble)
  }

  // ---- per-run layout artifacts ------------------------------------------

  test("ensureRunDir memoizes within the JVM and adds a completion marker") {
    var writes = 0
    val d1 = graft.etl.LayoutOps.ensureRunDir(spark, sf, "probe_r5") { out =>
      writes += 1
      new java.io.File(out).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Path.of(out, "x"), "1")
    }
    val d2 = graft.etl.LayoutOps.ensureRunDir(spark, sf, "probe_r5") { _ =>
      writes += 1
    }
    assert(d1 === d2 && writes === 1)
    assert(new java.io.File(d1, "_SUCCESS").exists())
    // a dir without `_SUCCESS` (a failed write) is cleared and rebuilt
    new java.io.File(d1, "_SUCCESS").delete()
    val d3 = graft.etl.LayoutOps.ensureRunDir(spark, sf, "probe_r5") { out =>
      writes += 1
      assert(!new java.io.File(out).exists(), "partial dir must be cleared first")
      new java.io.File(out).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Path.of(out, "y"), "2")
    }
    assert(d3 === d1 && writes === 2)
    assert(new java.io.File(d3, "_SUCCESS").exists())
    assert(new java.io.File(d3).list().toSet.filterNot(_.startsWith(".")) ===
      Set("y", "_SUCCESS", "_SRC_FINGERPRINT"))
  }
}
