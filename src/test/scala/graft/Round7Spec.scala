package graft

import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** Round-7 additions: the persisted-index serving tier (build/serve
  * split), the cluster-scoped embedding-dedup propose stage, and the
  * residual IVF-PQ recall lift — plan-shape and quality pins.
  */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  // ---- persisted ANN index tier ------------------------------------------

  test("ann_index_serve plan probes the stored index: no encode kernel, no cartesian") {
    // first execution materializes the index artifact for this JVM
    graft.queries.Registry.queries("ann_index_serve")(spark, sf).count()
    val plan = graft.queries.Registry.queries("ann_index_serve")(spark, sf)
      .queryExecution.executedPlan.toString
    // the int8 ENCODE step (floor(x/s + 0.5) over array_max) must not
    // appear anywhere: serving reconstructs from stored codes only
    assert(!plan.contains("floor("), plan.take(1200))
    assert(!plan.contains("array_max"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    // probe is a broadcast join on the stored list id
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("serveQuantizedIvf over the persisted index matches the build-inclusive query") {
    // same knobs as ann_ivf_quantized (k=5, nprobe=2): the split must not
    // change results, only where the encode cost is paid
    val emb = graft.etl.Tables(spark, sf, "embeddings")
    val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 5000)
    val idx = Similarity.buildQuantizedIvfIndex(spark, emb, cents,
      "vec_id", "embedding", "vec_id", "embedding").localCheckpoint()
    val served = Similarity.serveQuantizedIvf(spark, idx,
        emb.filter(col("vec_id") % 100 === 0), cents,
        "vec_id", "embedding", "vec_id", "embedding", k = 5, nprobe = 2)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val inline = graft.queries.Registry.queries("ann_ivf_quantized")(spark, sf)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(served === inline)
  }

  test("quantized-IVF index artifact has one list per vector and int8-range codes") {
    val emb = graft.etl.Tables(spark, sf, "embeddings")
    val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 5000)
    val idx = Similarity.buildQuantizedIvfIndex(spark, emb, cents,
      "vec_id", "embedding", "vec_id", "embedding")
    val n = emb.count()
    assert(idx.count() === n)
    assert(idx.select(countDistinct(col("vec_id"))).as[Long].head() === n)
    val bad = idx.filter(exists(col("codes"), c => abs(c) > 127)).count()
    assert(bad === 0L, s"$bad vectors with out-of-int8-range codes")
  }

  // ---- residual IVF-PQ ---------------------------------------------------

  test("residual IVF-PQ recall@5 clears 0.3 at sf0.1 (raw-vector codes measured 0.12-0.14)") {
    val sf01 = "/root/testdata/sf0.1"
    val exact = graft.queries.Registry.queries("ann_cosine_topk")(spark, sf01)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = graft.queries.Registry.queries("ann_ivfpq_topk")(spark, sf01)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // residual encoding + m=16 sub-spaces + nprobe=5: measured 0.34 at
    // r9 (nprobe=3 gave 0.23 against a coarse-probe ceiling of 0.30;
    // widening the probe to 5 lists = 3.7% of the corpus raises the
    // ceiling to 0.43), vs 0.12-0.14 for raw-vector codes
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.3, s"residual IVF-PQ recall@5: $recall")
  }

  test("residual reconstruction beats raw-vector reconstruction at equal knobs") {
    // the architectural claim itself: same codebook budget, same lists,
    // same probe width - residual codes must reconstruct closer to the
    // corpus than raw-vector codes. Compare mean reconstruction cosine.
    val emb = graft.etl.Tables(spark, sf, "embeddings")
    val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 5000)
    val ivfpq = Similarity.ivfPqTopK(spark, emb, emb.filter(col("vec_id") % 100 === 0),
      cents, emb.filter(col("vec_id") % 5 === 0 && col("vec_id") < 5000),
      "vec_id", "embedding", "vec_id", "embedding", m = 16, k = 5, nprobe = 3)
    val raw = Similarity.pqTopKWithModel(spark, emb, emb.filter(col("vec_id") % 100 === 0),
      Similarity.pqTrain(emb.filter(col("vec_id") % 5 === 0 && col("vec_id") < 5000),
        "vec_id", "embedding", m = 16),
      "vec_id", "embedding", k = 5)
    // ranked sims approximate true sims from below as reconstruction
    // improves; residual top-5 mean sim must not trail the raw one
    val mSim = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(avg(col("sim"))).as[Double].head()
    assert(mSim(ivfpq) >= mSim(raw) - 0.05,
      s"residual mean sim ${mSim(ivfpq)} vs raw ${mSim(raw)}")
  }

  // ---- cluster-scoped embedding dedup propose ----------------------------

  test("coarseAssignJoin matches kmeansAssign on the same centroid set") {
    val emb = graft.etl.Tables(spark, sf, "embeddings")
    val cents = emb.filter(col("vec_id") % 37 === 0 && col("vec_id") < 5000)
    val viaJoin = Similarity.coarseAssignJoin(spark, emb, cents,
        "vec_id", "embedding", "vec_id", "embedding")
      .select("vec_id", "cluster").as[(Long, Long)].collect().toSet
    val viaInline = Similarity.kmeansAssign(spark, emb, cents,
        "vec_id", "embedding", "vec_id", "embedding")
      .select("vec_id", "cluster").as[(Long, Long)].collect().toSet
    assert(viaJoin === viaInline)
  }

  test("embedding propose stage: corpus never shuffles to score, centroids broadcast") {
    val emb = graft.etl.Tables(spark, sf, "embeddings")
    val plan = Similarity.coarseAssignJoin(spark, emb,
        emb.filter(col("vec_id") % 37 === 0),
        "vec_id", "embedding", "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // the only exchange is the n-row post-aggregate shuffle (partial
    // argmax is map-side), never a corpus x centroids shuffle
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("ann_ivfpq_serve plan decodes but never encodes") {
    graft.queries.Registry.queries("ann_ivfpq_serve")(spark, sf).count()
    val plan = graft.queries.Registry.queries("ann_ivfpq_serve")(spark, sf)
      .queryExecution.executedPlan.toString
    // the serving plan reconstructs via PqDecode over STORED codes; the
    // encode kernel appearing would mean the index is being rebuilt
    assert(plan.contains("pqdecode") || plan.contains("PqDecode"), plan.take(1500))
    assert(!plan.contains("pqencodecodes") && !plan.contains("PqEncodeCodes"),
      plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("exact re-rank of the IVF-PQ shortlist: recall never below the compressed ranking, sims exact") {
    val exact = graft.queries.Registry.queries("ann_cosine_topk")(spark, sf)
      .select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    val exactSet = exact.map(t => (t._1, t._2)).toSet
    val served = graft.queries.Registry.queries("ann_ivfpq_serve")(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val reranked = graft.queries.Registry.queries("ann_rerank_exact")(spark, sf)
      .select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    val rerankSet = reranked.map(t => (t._1, t._2)).toSet
    // the widened shortlist (k'=15) re-ranked by true cosine can only
    // recover pairs the compressed top-5 missed, never lose them
    val rServe = (exactSet & served).size.toDouble / exactSet.size
    val rRerank = (exactSet & rerankSet).size.toDouble / exactSet.size
    assert(rRerank >= rServe, s"rerank recall $rRerank < serve recall $rServe")
    // and the re-ranked sims ARE the exact cosines, bit-for-bit at 9 dp
    val exactSim = exact.map(t => (t._1, t._2) -> t._3).toMap
    val mismatched = reranked.filter { case (q, n, s) =>
      exactSim.get((q, n)).exists(_ != s)
    }
    assert(mismatched.isEmpty, mismatched.take(3).mkString(", "))
  }

  test("temperature mixture: w sums to 1, tail boosted, head damped, alpha=1 is identity") {
    val d = graft.etl.Tables(spark, sf, "documents")
    val w = graft.etl.SampleOps.temperatureWeights(d, "lang", alpha = 0.3)
      .select("lang", "n_docs", "p", "w", "boost").collect()
    assert(math.abs(w.map(_.getDouble(3)).sum - 1.0) < 1e-6)
    assert(w.minBy(_.getLong(1)).getDouble(4) > 1.0, "rarest lang must be up-sampled")
    assert(w.maxBy(_.getLong(1)).getDouble(4) < 1.0, "head lang must be down-sampled")
    graft.etl.SampleOps.temperatureWeights(d, "lang", alpha = 1.0).collect()
      .foreach(r => assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9,
        s"alpha=1 must leave shares unchanged: $r"))
  }

  // ---- persisted dedup fingerprint index ---------------------------------

  test("incremental index probe equals the batch LSH pipeline restricted to cross-shard pairs") {
    val docs = graft.etl.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val shard = docs.select((col("doc_id") + 100000L).as("doc_id"),
      concat(lit("xx "), col("text")).as("text"))
    val idx = graft.ext.Dedup.buildBandIndex(docs, "doc_id", "text").localCheckpoint()
    val probed = graft.ext.Dedup.probeBandIndex(idx, shard, "doc_id", "text", threshold = 0.5)
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
    // the batch path over the combined corpus, keeping only pairs that
    // cross the historical/shard boundary — incremental must find
    // exactly these (candidates come from the same band family, verify
    // from the same distinct-hash sets)
    val all = docs.unionByName(shard)
    val cands = graft.ext.Dedup.minhashCandidatePairs(all, "doc_id", "text")
      .filter(col("doc_a") < 100000L && col("doc_b") >= 100000L)
    val hsets = graft.ext.Dedup.buildBandIndex(all, "doc_id", "text")
      .select(col("doc_id"), col("hset"))
    val batch = cands
      .join(hsets.select(col("doc_id").as("doc_a"), col("hset").as("__ha")), "doc_a")
      .join(hsets.select(col("doc_id").as("doc_b"), col("hset").as("__hb")), "doc_b")
      .withColumn("__i", size(array_intersect(col("__ha"), col("__hb"))))
      .filter(col("__i").cast("double") /
        (size(col("__ha")) + size(col("__hb")) - col("__i")) >= 0.5)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"))
      .as[(Long, Long)].collect().toSet
    assert(probed === batch)
    assert(probed.nonEmpty)
  }

  test("dedup_index_probe plan shingles only the shard; index side reads parquet") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    graft.queries.Registry.queries("dedup_index_probe")(spark, sf).count()
    val executed = graft.queries.Registry.queries("dedup_index_probe")(spark, sf)
      .queryExecution.executedPlan
    val plan = executed.toString
    // walked as a tree: kernels print under their class name, and a
    // scan's Location text is cut at 100 characters
    val walk = new AdaptiveSparkPlanHelper {}
    // exactly one fingerprint pipeline (the shard); the historical side
    // must contribute bands/hsets from the stored artifact, not re-shingle
    val nSig = walk.collectWithSubqueries(executed) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case m: graft.functions.MinHashSig => m }))
      .length
    assert(nSig <= 1, s"$nSig minhash pipelines in probe plan:\n${plan.take(1500)}")
    val roots = walk.collectWithSubqueries(executed) {
      case scan: FileSourceScanExec => scan.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.exists(_.contains("dedup_band_index")), roots.mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("cluster attach invariants: matched docs adopt valid historical labels, unmatched self-label") {
    val out = graft.queries.Registry.queries("dedup_index_attach")(spark, sf)
      .select("doc_id", "cluster_id", "n_matched").as[(Long, Long, Long)].collect()
    val clusDir = graft.queries.Extensions.ensureDedupClusters(spark, sf)
    val histLabels = spark.read.parquet(clusDir)
      .select("cluster_id").as[Long].collect().toSet
    out.foreach { case (id, c, m) =>
      if (m == 0L) assert(c === id, s"unmatched $id must self-label, got $c")
      else {
        assert(c < 100000L, s"attached $id got non-historical label $c")
        assert(histLabels.contains(c), s"attached $id got unknown label $c")
      }
    }
    // every shard doc here is a perturbed copy of a historical doc, so
    // near-all must attach (the stragglers are sub-3-word docs with no bands)
    val matched = out.count(_._3 > 0L).toDouble / out.length
    assert(matched >= 0.9, s"only ${(matched * 100).round}% of the shard attached")
  }

  test("hash-min CC fails loudly on a long chain instead of returning wrong labels") {
    // a 30-hop path: diameter 30 > the 25-round budget. Silent
    // truncation handed out wrong cluster ids (caught at sf0.1 by the
    // media_phash_clusters oracle); now it must throw and point at the
    // star variant, which contracts the same chain exactly.
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      graft.ext.Dedup.connectedComponents(chain, "doc_a", "doc_b").count()
    }
    assert(ex.getMessage.contains("connectedComponentsStar"))
    val star = graft.ext.Dedup.connectedComponentsStar(chain, "doc_a", "doc_b")
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert((0L to 30L).forall(v => star(v) == 0L), star.toString)
  }

  test("clusterAssignment labels a long chain exactly on the driver path") {
    // the 30-hop path above: hash-min propagation throws on it, while 30
    // pairs take the driver union-find, which labels every node with the
    // component min, plus an isolated doc as itself
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val docs = (0L to 31L).toDF("doc_id")
    val got = graft.ext.Dedup.clusterAssignment(docs, chain, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 30L).map(_ -> 0L).toMap + (31L -> 31L), got.toString)
  }

  // ---- perceptual-hash image dedup ---------------------------------------

  test("image perceptual hashes: near-dup PNGs pair within hamming 7, distinct ones don't") {
    def gradientPng(seed: Int, tweak: Set[(Int, Int)] = Set.empty): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v = (x * 8 + y * 4 + seed) % 256
        img.setRGB(x, y, if (tweak((x, y))) 0xffffff else (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, gradientPng(0)),
      // same gradient, 3 pixels blown out — a near duplicate
      (2L, gradientPng(0, tweak = Set((0, 0), (5, 5), (20, 11)))),
      // inverted-direction gradient — structurally different
      (3L, gradientPng(128)),
      (4L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "media")
    val hashes = graft.ext.Multimodal.imagePerceptualHashes(spark, media).toDF()
    assert(hashes.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L),
      "corrupt payload must drop, not fail")
    val aPairs = graft.ext.Dedup.hammingPairs64(
        hashes, "doc_id", "ahash_hi", "ahash_lo", maxHamming = 7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(aPairs.contains((1L, 2L)), s"near-dup pair lost: $aPairs")
    assert(!aPairs.contains((1L, 3L)) && !aPairs.contains((2L, 3L)),
      s"structurally different images paired: $aPairs")
    // dHash agrees: the tweak barely moves gradient signs
    val dPairs = graft.ext.Dedup.hammingPairs64(
        hashes, "doc_id", "dhash_hi", "dhash_lo", maxHamming = 7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(dPairs.contains((1L, 2L)), s"dHash near-dup pair lost: $dPairs")
  }

  test("BytePHash64 kernel equals the built-in-expression reference formulation") {
    val docs = graft.etl.Tables(spark, sf, "documents").limit(200)
    val kernel = graft.ext.Multimodal.bytePHash(docs, "doc_id", "text")
    // the HOF reference the kernel replaced — kept here as the spec of
    // the arithmetic (and what the DuckDB oracle independently replays)
    val ref = docs.filter(length(col("text")) >= 1)
      .withColumn("__bytes",
        expr("transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))"))
      .withColumn("__n", size(col("__bytes")).cast("long"))
      .withColumn("__c", ceil(col("__n") / 64.0).cast("int"))
      .withColumn("__total", expr("aggregate(__bytes, 0L, (a, x) -> a + x)"))
      .withColumn("__bits", expr(
        """transform(sequence(0, 63), k ->
           IF(aggregate(slice(__bytes, k * __c + 1, __c), 0L, (a, x) -> a + x) * __n
                > __total * size(slice(__bytes, k * __c + 1, __c)),
              1L, 0L))"""))
      .withColumn("phash_lo", expr(
        "aggregate(sequence(0, 31), 0L, (a, k) -> a + shiftleft(element_at(__bits, k + 1), k))"))
      .withColumn("phash_hi", expr(
        "aggregate(sequence(0, 31), 0L, (a, k) -> a + shiftleft(element_at(__bits, k + 33), k))"))
      .select(col("doc_id"), col("phash_hi"), col("phash_lo"))
    val k = kernel.as[(Long, Long, Long)].collect().toSet
    val r = ref.as[(Long, Long, Long)].collect().toSet
    assert(k === r)
    assert(k.nonEmpty)
  }

  test("hammingPairs64 pigeonhole is exhaustive at d<=7 and exact on the distance") {
    // hand-built hashes: B differs from A in exactly 7 bits spread over
    // all 8 bands (no shared-band shortcut among the FLIPPED bits — the
    // recall must come from band 7, the only untouched band); C differs
    // from A in 8 bits, one per band, so no band agrees and the propose
    // stage must NOT emit (A, C) even though d=8 is just past the gate
    val a = (0L, 0L, 0L)
    val b = (1L, 1L | (1L << 8) | (1L << 16) | (1L << 24), (1L << 8) | (1L << 16) | (1L << 24))
    val c = (2L, 1L | (1L << 8) | (1L << 16) | (1L << 24), 1L | (1L << 8) | (1L << 16) | (1L << 24))
    val df = Seq(a, b, c).toDF("doc_id", "phash_lo", "phash_hi")
    val got = graft.ext.Dedup.hammingPairs64(df, "doc_id", maxHamming = 7)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(got.contains((0L, 1L, 7L)), got.toString)
    assert(!got.exists(p => p._1 == 0L && p._2 == 2L), got.toString)
  }

  // ---- subword tokenizer -------------------------------------------------

  test("subword tokenizer: greedy longest-match, code-point advance, fallback") {
    import graft.functions.SubwordTokens
    def toks(word: String): Seq[String] = {
      val in = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(word)))
      SubwordTokens.compute(in).toSeq[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType).map(_.toString)
    }
    // longest match wins: "nation" takes 'n'+"ation" (len 5), never
    // "na"+"tion" or "nation" char-by-char
    assert(toks("nation") === Seq("n", "ation"))
    // "international" leads with the 5-char "inter", not 2-char "in"
    assert(toks("international").head === "inter")
    // tokens re-concatenate to the word (tokenization is a partition)
    Seq("international", "understanding", "xylophone", "q", "42nd").foreach { w =>
      assert(toks(w).mkString === w, s"tokens of '$w' don't re-join")
    }
    // unknown chars fall back to single code points
    assert(toks("zzz") === Seq("z", "z", "z"))
    // code-point advance: a non-BMP char (2 UTF-16 units) is ONE token
    assert(toks("😀ab").head === "😀")
  }

  test("subword counts meter more tokens than words and compose into packing") {
    val docs = graft.etl.Tables(spark, sf, "documents")
    val sub = graft.ext.TextOps.subwordTokens(docs, "doc_id", "text")
    val joined = sub.join(
      docs.select(col("doc_id"),
        size(graft.ext.TextOps.words(col("text"))).cast("long").as("n_words")),
      "doc_id")
    // every doc: at least one subword per word, at most one per character
    assert(joined.filter(col("n_subwords") < col("n_words")).count() === 0L)
    // packing by subword counts covers the larger total stream
    val packSub = graft.queries.Registry.queries("text_pack_subword")(spark, sf)
    val packWs = graft.queries.Registry.queries("text_pack_windows")(spark, sf)
    val lastOf = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(max(col("last_window"))).as[Long].head()
    assert(lastOf(packSub) > lastOf(packWs),
      "subword stream should cut into more 512-token windows than the word stream")
  }

  test("dedup_embedding_pairs still recalls every planted scaled copy") {
    val got = graft.queries.Registry.queries("dedup_embedding_pairs")(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val n = graft.etl.Tables(spark, sf, "embeddings").count()
    // every (v, v+100000) planted pair must survive the cluster-scoped
    // propose: scaling preserves direction, so copy and original assign
    // to the same list
    (0L until n).foreach { v =>
      assert(got.contains((v, v + 100000L)), s"planted pair for vec $v lost")
    }
  }

  // ---- corpus-quality additions (line dedup, Gopher rules, DSIR) ---------

  test("line dedup drops exactly the injected boilerplate, keeps every text line") {
    val out = graft.queries.Registry.queries("text_line_dedup")(spark, sf)
      .select("doc_id", "n_lines", "n_kept").as[(Long, Long, Long)].collect()
    out.foreach { case (id, nLines, nKept) =>
      val injected = Seq(id % 7 == 0, id % 3 == 0, id % 5 == 0).count(identity)
      assert(nLines === 1L + injected, s"doc $id: expected ${1 + injected} lines")
      // the doc's own text line is rare (< minDocs) so it must survive;
      // every injected boilerplate line occurs in >= corpus/7 docs so it
      // must not
      assert(nKept === 1L, s"doc $id: kept $nKept of $nLines lines")
    }
  }

  test("line dedup reassembly is partition-order independent") {
    val lined = graft.etl.Tables(spark, sf, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit("\nshared footer line here")).as("text"))
    val a = graft.ext.TextOps.lineDedupGlobal(lined, "doc_id", "text", minDocs = 10)
      .orderBy("doc_id").collect()
    val b = graft.ext.TextOps.lineDedupGlobal(lined.repartition(7), "doc_id", "text",
        minDocs = 10)
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("gopher rules: flags discriminate and compose into keep") {
    val out = graft.queries.Registry.queries("text_gopher_rules")(spark, sf)
    val agg = out.agg(
      sum(col("flag_words")), sum(col("flag_stop")), sum(col("keep")),
      count(lit(1))).as[(Long, Long, Long, Long)].head()
    val (fw, fs, keep, n) = agg
    // each rule must cut SOME docs and pass SOME docs on this corpus —
    // a constant rule pins nothing
    assert(fw > 0 && fw < n, s"word-count rule is constant: $fw/$n")
    assert(fs > 0 && fs < n, s"stopword rule is constant: $fs/$n")
    assert(keep > 0 && keep < n, s"composite keep is constant: $keep/$n")
    // keep implies every flag
    assert(out.filter(col("keep") === 1 &&
      (col("flag_words") === 0 || col("flag_wlen") === 0 || col("flag_stop") === 0))
      .count() === 0L)
  }

  test("repeated spans: overlap merge, adjacency merge, gap split — exact arithmetic") {
    // n=3 grams; "a b c d e" repeated verbatim in docs 1 and 2 plants
    // flagged grams at positions 0,1,2 (overlapping → ONE span of 5
    // words); doc 3 carries the same phrase twice with a 2-word gap
    // ("a b c d e x y a b c d e"): flagged 0,1,2 and 7,8,9 — diff 5 > 3
    // → TWO spans, 5+5 covered words; doc 4 shares nothing.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "p q a b c d e r s"),
      (3L, "a b c d e x y a b c d e"),
      (4L, "u v w u2 v2 w2 u3 v3 w3")).toDF("doc_id", "text")
    val out = graft.ext.TextOps.repeatedSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_dup_grams", "n_spans", "dup_words")
      .as[(Long, Long, Long, Long)].collect()
    assert(out(0) === ((1L, 3L, 1L, 5L)))
    assert(out(1) === ((2L, 3L, 1L, 5L)))
    assert(out(2) === ((3L, 6L, 2L, 10L)))
    assert(out(3) === ((4L, 0L, 0L, 0L)))
  }

  test("repeated spans: exactly-adjacent duplicated regions merge into one span") {
    // "a b c d a b c d": gram "a b c" flagged at 0 and 4 (diff 4 = n+1
    // > n → split); gram "b c d" flagged at 1 and 5. positions
    // 0,1,4,5: diffs 1,3,1 with n=3 → no diff > 3 → ONE span covering
    // n + min(1,3)+min(3,3)+min(1,3) = 3+5 = 8 words.
    val docs = Seq((1L, "a b c d a b c d")).toDF("doc_id", "text")
    val out = graft.ext.TextOps.repeatedSpans(docs, "doc_id", "text", n = 3)
      .select("n_dup_grams", "n_spans", "dup_words")
      .as[(Long, Long, Long)].head()
    assert(out === ((4L, 1L, 8L)))
  }

  test("dsir weights rank the target language above the rest on average") {
    val docs = graft.etl.Tables(spark, sf, "documents")
    val w = graft.queries.Registry.queries("text_dsir_weights")(spark, sf)
      .join(docs.select("doc_id", "lang"), "doc_id")
    // per-word mean log importance weight, so doc length doesn't confound
    val byLang = w.groupBy(col("lang") === "en")
      .agg(avg(col("dsir_logw") / col("n_words"))).as[(Boolean, Double)]
      .collect().toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} should exceed non-en ${byLang(false)}")
    // weights are finite and n_words matches the corpus word count
    assert(w.filter(col("dsir_logw").isNull || isnan(col("dsir_logw"))).count() === 0L)
  }

  // ---- bloom-pre-filtered decontamination --------------------------------

  test("BloomBits: inserted members always hit; disjoint probes mostly miss") {
    val members = Array.tabulate(5000)(i => (i * 2654435761L) ^ 0x9e3779b97f4a7c15L)
    val bits = graft.functions.BloomBits.build(members, k = 5)
    // no false negatives, ever — this is what makes the prune lossless
    assert(members.forall(graft.functions.BloomBits.contains(_, bits, 5)))
    // ~16 bits/element, k=5 ⇒ sub-percent false-positive rate
    val fp = (1 to 20000).map(i => (i * 0xbf58476d1ce4e5b9L) + 17L)
      .count(h => !members.contains(h) && graft.functions.BloomBits.contains(h, bits, 5))
    assert(fp < 200, s"false-positive count $fp out of 20000 is not sub-percent")
    // corpus-sized build side fails loudly, not silently
    val e = intercept[IllegalArgumentException] {
      graft.functions.BloomBits.build(new Array[Long](graft.functions.BloomBits.MaxBuild + 1), 5)
    }
    assert(e.getMessage.contains("bounded eval set"))
  }

  test("bloomContaminationPairs equals the exact operator and prunes before verify") {
    val d = graft.etl.Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 97 === 0)
    val corpus = d.select((col("doc_id") + 100000L).as("doc_id"),
      concat(lit("xx "), col("text")).as("text"))
    val exact = graft.ext.TextOps.contaminationPairs(corpus, bench,
      "doc_id", "text", n = 8, minOverlap = 10)
      .as[(Long, Long, Long)].collect().toSet
    val bloom = graft.ext.TextOps.bloomContaminationPairs(corpus, bench,
      "doc_id", "text", n = 8, minOverlap = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(bloom === exact)
    assert(exact.nonEmpty, "synthetic leak must surface pairs or the test is vacuous")
  }

  test("bloom hit count bounds the true pair overlap from above (no false negatives)") {
    val phrase = (1 to 12).map(i => s"w$i").mkString(" ")
    val bench = Seq((100L, phrase)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"lead in words $phrase"),                    // all 5 bench 8-grams
      (2L, (20 to 40).map(i => s"x$i").mkString(" "))) // zero overlap
      .toDF("doc_id", "text")
    // minOverlap = 5 keeps doc 1 (5 true shared grams) — the bloom path
    // must agree with the exact one at the boundary value
    val got = graft.ext.TextOps.bloomContaminationPairs(corpus, bench,
      "doc_id", "text", n = 8, minOverlap = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 100L, 5L)))
  }
}
