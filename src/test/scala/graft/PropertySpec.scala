package graft

import graft.etl.CleanOps
import graft.ext.{Dedup, PostingIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY.md §5.2 — property coverage of the strict=False contract:
  * arbitrary junk through the cleaning operators must never throw, only
  * null out; well-formed inputs must round-trip. ScalaCheck generators
  * are sampled with fixed seeds (no scalatestplus bridge in the offline
  * cache), so failures are reproducible.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val junk: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr, Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf('0', '1', '9', '/', '-', '.', '%', ',', ' ')).map(_.mkString))

  test("cleaning ops never throw on arbitrary input (null-on-failure)") {
    val xs = samples(junk, 300) :+ ""
    val out = xs.toDF("raw").select(
      CleanOps.percentToRate($"raw").as("a"),
      CleanOps.normalizeDate($"raw").as("b"),
      CleanOps.commaDecimal($"raw").as("c"),
      CleanOps.parseDatetimeMinutes($"raw").as("d"))
    assert(out.count() == xs.length) // forces evaluation of every row
  }

  test("well-formed dates round-trip through normalizeDate for all separators") {
    val cases = for {
      (d, i) <- samples(Gen.choose(1, 28), 25).zipWithIndex
      m = samples(Gen.choose(1, 12), 25)(i)
      y = samples(Gen.choose(1950, 2049), 25)(i)
      s <- Seq("/", "-", ".")
    } yield (f"$d%02d$s$m%02d$s$y%04d", f"$y%04d-$m%02d-$d%02d")
    val got = cases.map(_._1).toDF("raw")
      .select(CleanOps.normalizeDate($"raw").cast("string")).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g == e) }
  }

  test("percent strings parse exactly: strip/trim/divide") {
    val ns = samples(Gen.choose(0, 99999999), 100)
    val got = ns.map(n => s"  $n %").toDF("raw")
      .select(CleanOps.percentToRate($"raw")).as[Double].collect()
    got.zip(ns).foreach { case (g, n) => assert(g == n / 1e7) }
  }

  test("normText collapses arbitrary whitespace to canonical form") {
    val wordLists = samples(Gen.listOfN(8, Gen.alphaStr.suchThat(_.nonEmpty)), 50)
    val df = wordLists.map(ws => (ws.mkString("  ") + "  ", ws.mkString(" ").toLowerCase))
      .toDF("messy", "clean")
    val bad = df.filter(Dedup.normText($"messy") =!= lower($"clean")).count()
    assert(bad == 0)
  }

  test("fingerprint is stable under leading/trailing whitespace") {
    val texts = samples(Gen.listOfN(6, Gen.alphaStr.suchThat(_.nonEmpty)), 50)
      .map(_.mkString(" "))
    val df = texts.zipWithIndex.flatMap { case (t, i) =>
      Seq((i.toLong * 2, t), (i.toLong * 2 + 1, s"  $t  "))
    }.toDF("doc_id", "text")
    val fps = TextOps.withFingerprint(df, "text")
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    texts.indices.foreach { i =>
      assert(fps(i.toLong * 2) == fps(i.toLong * 2 + 1))
    }
  }

  test("connected components equal brute-force union-find on random graphs") {
    // once on the driver union-find (the default at these sizes) and
    // once with no pair on the driver (distributed hash-min propagation)
    for (driverPairs <- Seq(graft.ext.Dedup.SmallGraphRows, 0L)) {
      val rnd = new scala.util.Random(42)
      (0 until 3).foreach { trial =>
        val nVerts = 30 + trial * 20
        val nEdges = nVerts / 2 + trial * 15
        val edges = (0 until nEdges).map { _ =>
          (rnd.nextInt(nVerts).toLong, rnd.nextInt(nVerts).toLong)
        }.filter { case (a, b) => a != b }
        // brute-force union-find
        val parent = Array.tabulate(nVerts)(identity)
        def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(ra) = rb
        }
        val expected = (0 until nVerts).map { v =>
          v.toLong -> (0 until nVerts).filter(u => find(u) == find(v)).min.toLong
        }.toMap
        val docs = (0L until nVerts.toLong).toDF("doc_id")
        val got = graft.ext.Dedup.clusterAssignment(
            docs, edges.toDF("doc_a", "doc_b"), "doc_id", driverPairs)
          .as[(Long, Long)].collect().toMap
        assert(got == expected,
            s"driverPairs $driverPairs trial $trial: nVerts=$nVerts nEdges=${edges.size}")
      }
    }
  }

  test("posting self-join equals a nested loop over all posting pairs") {
    // two-column key (k1, k2) over a small key space, so keys repeat
    // across docs AND within a doc; every posting carries its own payload
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(100 + trial)
      val postings = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(3),
        rnd.nextInt(3).toString, rnd.nextInt(1000).toLong))
      val got = PostingIndex.selfJoin(postings.toDF("doc", "k1", "k2", "w"), "doc",
          Seq("k1", "k2"), Seq($"w".as("wa")), Seq($"w".as("wb")))
        .select("doc_a", "doc_b", "k1", "k2", "wa", "wb")
        .as[(Long, Long, Int, String, Long, Long)].collect().toSeq.sorted
      val want = (for {
        (da, k1, k2, wa) <- postings
        (db, l1, l2, wb) <- postings
        if k1 == l1 && k2 == l2 && da < db
      } yield (da, db, k1, k2, wa, wb)).sorted
      assert(want.nonEmpty &&
        postings.groupBy(p => (p._1, p._2, p._3)).exists(_._2.size > 1),
        s"trial $trial: the fixture must repeat a key within a doc")
      assert(got == want, s"trial $trial: ${got.diff(want).take(3)} / ${want.diff(got).take(3)}")
    }
  }

  test("as-of join equals brute-force per-row scan on random data") {
    val rnd = new scala.util.Random(7)
    (0 until 2).foreach { trial =>
      val nKeys = 5
      val lefts = (0 until 120).map(i =>
        (i.toLong, rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong))
      val rights = (0 until 80).map(i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(40).toLong, i.toLong))
      for (fwd <- Seq(false, true); strict <- Seq(true, false)) {
        val expected = lefts.map { case (id, k, t) =>
          val cands = rights.filter { case (rk, rt, _) =>
            rk == k && (if (fwd) (if (strict) rt > t else rt >= t)
                        else (if (strict) rt < t else rt <= t))
          }
          id -> (if (cands.isEmpty) None
                 else Some(if (fwd) cands.map(_._2).min else cands.map(_._2).max))
        }.toMap
        val got = graft.plans.AsOfJoin.asofJoin(
            lefts.toDF("id", "k", "t"),
            rights.toDF("rk", "rt", "payload"),
            Seq("k"), Seq("rk"), "t", "rt", forward = fwd, strict = strict)
          .select($"id", $"rt")
          .as[(Long, Option[Long])].collect().toMap
        assert(got == expected, s"trial=$trial fwd=$fwd strict=$strict")
      }
    }
  }

  test("fused shingle expressions equal HOF references on arbitrary unicode text") {
    graft.functions.VectorExpressions.register(spark)
    val unicodey: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("ñ", "ü", "ß", "中", "🎉", "a", " ", "\t", "é"))
        .map(_.mkString),
      Gen.const(""), Gen.const("   "), Gen.const("one two three four"))
    val texts = samples(unicodey, 200)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sh = graft.ext.Dedup.withShingles(df, "text", 2)
      .withColumn("ref32", expr("transform(__shingles, s -> graft_hash32(s))"))
      .withColumn("fused32", expr("graft_shingle_hashes32(__words, 2)"))
      .withColumn("ref64", expr("transform(__shingles, s -> xxhash64(s))"))
      .withColumn("fused64", expr("graft_shingle_hashes64(__words, 2)"))
    assert(sh.filter(expr("ref32 <> fused32 OR ref64 <> fused64")).isEmpty)
    val sim = graft.ext.Dedup.withWords(df, "text", 1)
      .withColumn("__whashes", expr("graft_shingle_hashes32(__words, 1)"))
      .withColumn("ref",
        expr("""aggregate(sequence(0, 31), 0L, (acc, b) ->
                 acc + IF(2 * size(filter(__whashes, h -> shiftright(h, b) % 2 = 1)) > size(__whashes),
                          shiftleft(1L, b), 0L))"""))
      .withColumn("fused", expr("graft_simhash32(__whashes)"))
    assert(sim.filter(expr("ref <> fused")).isEmpty)
  }

  /** The regex formulation the fused `graft_text_stats` kernel replaced
    * in TextOps' quality and token ops: the reference it is pinned to.
    */
  private object RegexText {
    import org.apache.spark.sql.{Column, DataFrame}

    private def words(t: Column): Column = split(Dedup.normText(t), " ")

    private def qualityFrom(df: DataFrame, textCol: String, stopHits: Column): DataFrame = {
      val t = col(textCol)
      df.withColumn("n_chars_raw", length(t).cast("long"))
        .withColumn("n_words", size(words(t)).cast("long"))
        .withColumn("n_alpha", length(regexp_replace(lower(t), "[^a-z]", "")).cast("long"))
        .withColumn("punct_ratio",
          length(regexp_replace(t, "[a-zA-Z0-9 ]", "")).cast("double") / col("n_chars_raw"))
        .withColumn("avg_word_len", col("n_alpha").cast("double") / col("n_words"))
        .withColumn("stop_ratio", stopHits.cast("double") / col("n_words"))
        .withColumn("quality",
          round(least(col("avg_word_len") / 8.0, lit(1.0)) * 0.4
            + least(col("stop_ratio") * 5.0, lit(1.0)) * 0.4
            + (lit(1.0) - col("punct_ratio")) * 0.2, 9))
    }

    def withQuality(df: DataFrame, textCol: String): DataFrame =
      qualityFrom(df, textCol, TextOps.stopwordHits(words(col(textCol)), TextOps.StopEn))

    def withQualityByLang(df: DataFrame, textCol: String, langCol: String): DataFrame = {
      val tbl = broadcast(TextOps.StopByLang.toDF("__slang", "__stops"))
      val withStops = df.join(tbl, col(langCol) === col("__slang"), "left")
        .withColumn("__st", coalesce(col("__stops"), array(TextOps.StopEn.map(lit): _*)))
        .drop("__slang", "__stops")
      qualityFrom(withStops, textCol,
        size(filter(words(col(textCol)), w => array_contains(col("__st"), w))))
        .drop("__st")
    }

    def withModelQuality(df: DataFrame, textCol: String): DataFrame =
      withQuality(df, textCol)
        .withColumn("logit",
          lit(2.0) * least(col("stop_ratio") * 5.0, lit(1.0)) +
            lit(1.5) * least(col("avg_word_len") / 8.0, lit(1.0)) -
            lit(3.0) * col("punct_ratio") +
            lit(0.5) * least(col("n_words").cast("double") / 200.0, lit(1.0)) -
            lit(1.2))
        .withColumn("prob", round(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 9))
        .withColumn("keep", (col("prob") >= 0.5).cast("long"))

    def withTokenCounts(df: DataFrame, textCol: String): DataFrame =
      df.withColumn("ws_tokens", size(split(trim(col(textCol)), "\\s+")).cast("long"))
        .withColumn("bpe_tokens",
          size(regexp_extract_all(lower(col(textCol)),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long"))
  }

  test("fused text statistics equal the regex formulation on arbitrary unicode text") {
    // the six \s chars, NBSP, U+0130 (lowers to two chars), supplementary
    // code points, lone surrogates, case, digits, punctuation, stop words
    val piece: Gen[String] = Gen.oneOf(
      Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0", "  ", " \t "),
      Gen.oneOf("\u0130", "\uD83C\uDF89", "\uD835\uDD18", "\uD800", "\uDC00", "\u212A",
        "ß", "ñ", "中", "é"),
      Gen.oneOf("the", "The", "AND", "of", "el", "la", "der", "le", "的", "fox", "a1b2", "42",
        "!", ".", ",", "--", "_"),
      Gen.alphaNumStr.map(_.take(6)), Gen.asciiPrintableStr.map(_.take(6)))
    val text: Gen[String] = for {
      body <- Gen.listOf(piece).map(_.mkString)
      lead <- Gen.oneOf("", " ", "  ", "\t", " \t")
      trail <- Gen.oneOf("", " ", "  ", "\t", "\t ")
    } yield lead + body + trail
    val edges = Seq("", " ", "\t", "\u000B", "\u00A0", "\u0130", "\uD83C\uDF89", "\uD800",
      " the  and\tof ", "\tthe", "the\t", "İstanbul ıi", "x\u00A0y")
    val texts: Seq[Option[String]] =
      (samples(text, 300) ++ edges).map(Some(_)) ++ Seq(None, None)
    val langs = Seq("en", "es", "de", "fr", "zh", "xx", null)
    val df = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Option(langs(i % langs.size)))
    }.toDF("doc_id", "text", "lang")
    // a non-nullable text column too: field nullability must follow it
    val nonNull = df.withColumn("text", coalesce($"text", lit("")))
    import org.apache.spark.sql.DataFrame
    val ops: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
      ("withQuality", TextOps.withQuality(_, "text"), RegexText.withQuality(_, "text")),
      ("withQualityByLang", TextOps.withQualityByLang(_, "text", "lang"),
        RegexText.withQualityByLang(_, "text", "lang")),
      ("withModelQuality", TextOps.withModelQuality(_, "text"),
        RegexText.withModelQuality(_, "text")),
      ("withTokenCounts", TextOps.withTokenCounts(_, "text"),
        RegexText.withTokenCounts(_, "text")))
    val key = "spark.sql.legacy.sizeOfNull"
    val default = spark.conf.get(key)
    // a null's size is -1 under the legacy flag (ANSI off), else null
    for (legacy <- Seq(default, "false")) {
      spark.conf.set(key, legacy)
      try {
        for ((name, fused, regex) <- ops; (frame, input) <- Seq("nullable" -> df, "non-null" -> nonNull)) {
          val got = fused(input)
          val ref = regex(input)
          val what = s"$name on $frame text, sizeOfNull=$legacy"
          assert(got.schema == ref.schema, s"$what: ${got.schema.treeString} vs ${ref.schema.treeString}")
          val g = got.orderBy("doc_id").collect().toSeq
          val r = ref.orderBy("doc_id").collect().toSeq
          val bad = g.zip(r).filter { case (a, b) => a != b }
          assert(g.size == r.size && bad.isEmpty, s"$what: ${bad.take(3).mkString("; ")}")
        }
      } finally spark.conf.set(key, default)
    }
  }

  test("redactPii is idempotent and never throws on arbitrary text") {
    val xs = (samples(junk, 200) ++ Seq(
      "a@b.co x@y.z.org", "+1-555-0100", "@@@", "a@b", "1-2-3", "")).zipWithIndex
    val df = xs.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = TextOps.redactPii(df, "doc_id", "text")
    val twice = TextOps.redactPii(
      once.select($"doc_id", lower($"redacted").as("text")), "doc_id", "text")
    val joined = once.select($"doc_id", lower($"redacted").as("r1l"))
      .join(twice.select($"doc_id", $"redacted".as("r2"), $"n_emails", $"n_phones"), "doc_id")
    // a second pass finds nothing and changes nothing (<EMAIL>/<PHONE>
    // tokens are outside both pattern alphabets after lower())
    assert(joined.filter($"r1l" =!= $"r2" || $"n_emails" =!= 0 || $"n_phones" =!= 0).isEmpty)
  }

  test("chunkDupStats invariants: ratio in [0,1], dup counts bounded, all-dup corpus") {
    val words = samples(Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d")), 150)
      .map(_.mkString(" ")).zipWithIndex
    val df = words.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val st = TextOps.chunkDupStats(df, "doc_id", "text", chunkWords = 4)
    assert(st.filter($"n_dup_chunks" > $"n_chunks" ||
      $"dup_ratio" < 0.0 || $"dup_ratio" > 1.0).isEmpty)
    // duplicating the whole corpus makes every chunk duplicated
    val doubled = df.unionByName(df.select($"doc_id" + 1000000L as "doc_id", $"text"))
    val st2 = TextOps.chunkDupStats(doubled, "doc_id", "text", chunkWords = 4)
    assert(st2.filter($"dup_ratio" =!= 1.0).isEmpty)
  }

  test("ppsSystematicSample: permutation-invariant under repartitioning, weights cover strides") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 300L).map(i => (i, 1L + rnd.nextInt(500)))
    val a = graft.etl.SampleOps.ppsSystematicSample(
      rows.toDF("id", "w"), "id", "w", n = 15).select("id").as[Long].collect().toSet
    val b = graft.etl.SampleOps.ppsSystematicSample(
      rows.reverse.toDF("id", "w").repartition(7), "id", "w", n = 15)
      .select("id").as[Long].collect().toSet
    assert(a == b) // input order and partitioning must not change the sample
    assert(a.nonEmpty && a.size <= 15)
  }

  test("funnel stage populations are monotonically non-increasing") {
    val rnd = new scala.util.Random(5)
    val evs = (1 to 2000).map { i =>
      (rnd.nextInt(60).toLong, new java.sql.Timestamp(rnd.nextInt(100000).toLong * 1000),
        Seq("a", "b", "c", "x")(rnd.nextInt(4)))
    }
    val counts = graft.etl.EventOps.funnel(
        evs.toDF("user_id", "ts", "event_type"), "user_id", "event_type", "ts",
        Seq("a", "b", "c"))
      .groupBy("stage").count().orderBy("stage").as[(String, Long)].collect()
    assert(counts.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      counts.mkString(", "))
  }

  test("quantizeInt8 invariants on arbitrary vectors: code range, error bound, scale sign") {
    val vecGen: Gen[Seq[Float]] = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e4f, 1e4f)))
    val vecs = samples(vecGen, 120).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val got = graft.ext.Similarity.quantizeInt8(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getSeq[Int](2), r.getDouble(3)))
    assert(got.length === vecs.length)
    got.foreach { case (id, scale, codes, err) =>
      assert(scale >= 0.0, s"vec $id negative scale")
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id code out of range")
      // half-up rounding keeps reconstruction within half a step (plus
      // the 9dp rounding of the reported values)
      assert(err <= scale / 2 + 1e-8, s"vec $id err=$err scale=$scale")
      val v = vecs(id.toInt)._2
      if (v.forall(_ == 0f)) assert(scale == 0.0 && codes.forall(_ == 0))
      else {
        // the max-magnitude element always maps to ±127
        assert(codes.map(math.abs).max === 127, s"vec $id max code ${codes.mkString(",")}")
      }
    }
  }

  test("PqEncodeCodes near-tie fast path matches the always-rounding reference") {
    // the kernel skips BigDecimal rounding when raw sums are > 2e-9
    // apart; this reference rounds EVERY distance (the oracle's exact
    // semantics) — any divergence is a fast-path bug. Vectors include
    // planted exact duplicates of codewords (forced 0-distance ties)
    // and near-identical codewords (forced near-ties).
    def round9(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val dims = 8; val m = 2; val subDim = dims / m
    val cwGen: Gen[Seq[Double]] =
      Gen.listOfN(subDim, Gen.chooseNum(-2.0, 2.0)).map(_.map(round9))
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val base = samples(cwGen, 6).map(_.toArray).toArray
      // a near-duplicate codeword pair: distances differ by ~1e-10,
      // inside the 2e-9 near-tie window, so rounding decides
      base :+ { val a = base.head.clone(); a(0) += 1e-10; a }
    }
    val model = graft.ext.Similarity.PqModel(m, subDim,
      books.map(_.map(_.toSeq).toIndexedSeq).toIndexedSeq)
    val vecGen: Gen[Seq[Float]] =
      Gen.listOfN(dims, Gen.chooseNum(-2f, 2f))
    val planted = books(0).take(2).map(cw =>
      (cw ++ books(1)(0)).map(_.toFloat).toSeq)
    val vecs = (samples(vecGen, 150) ++ planted)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val got = graft.ext.Similarity.pqEncode(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      val expect = (0 until m).map { j =>
        val sub = v.slice(j * subDim, (j + 1) * subDim).map(_.toDouble)
        books(j).zipWithIndex.map { case (cw, c) =>
          var s = 0.0
          var i = 0
          while (i < subDim) { val d = sub(i) - cw(i); s += d * d; i += 1 }
          (round9(s), c)
        }.min._2
      }
      assert(got(id) === expect, s"vec $id: kernel ${got(id)} vs reference $expect")
    }
  }
  // ---- model-based BPE check ---------------------------------------------

  /** Reference BPE: single left-to-right greedy merge pass per round
    * over an in-memory word histogram — the semantics the distributed
    * fixpoint-replace implementation must reproduce exactly.
    */
  private def refBpe(words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var syms: Map[Vector[String], Long] =
      words.map { case (w, c) => w.map(_.toString).toVector -> c }
    val out = Seq.newBuilder[(String, String, Long)]
    var done = false
    for (_ <- 1 to rounds if !done) {
      val pc = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      for ((s, c) <- syms; i <- 0 until s.length - 1) pc((s(i), s(i + 1))) += c
      if (pc.isEmpty) done = true
      else {
        val ((bl, br), bc) = pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((bl, br, bc))
        syms = syms.map { case (s, c) =>
          val buf = Vector.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == bl && s(i + 1) == br) { buf += bl + br; i += 2 }
            else { buf += s(i); i += 1 }
          }
          (buf.result(), c)
        }
      }
    }
    out.result()
  }

  test("distributed BPE equals the in-memory greedy reference on random corpora") {
    // small alphabet -> dense runs and touching occurrences, the cases
    // where fixpoint-replace and a naive single replace pass diverge
    val word: Gen[String] = for {
      n <- Gen.choose(1, 8)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val corpus: Gen[List[String]] = Gen.choose(5, 25).flatMap(Gen.listOfN(_, word))
    samples(corpus, 12).zipWithIndex.foreach { case (ws, i) =>
      val wc = ws.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val expect = refBpe(wc, rounds = 3)
      if (expect.nonEmpty) {
        val got = TextOps.bpeMerges(Seq(ws.mkString(" ")).toDF("text"), "text", rounds = 3)
          .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
        assert(got === expect, s"corpus #$i: $ws")
      }
    }
  }

  // ---- CMS properties over random weighted tables ------------------------

  test("containmentPairs matches an in-memory set-math reference on random corpora") {
    def r9(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val doc: Gen[String] = Gen.choose(0, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    val corpus: Gen[List[String]] = Gen.choose(4, 14).flatMap(Gen.listOfN(_, doc))
    samples(corpus, 5).zipWithIndex.foreach { case (texts, trial) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val maxDf = 4; val threshold = 0.5
      // reference: distinct word-trigram STRING sets (the oracle's
      // same-sets argument for the 64-bit hashed shingles)
      val sets = docs.flatMap { case (id, t) =>
        val w = t.split("\\s+").filter(_.nonEmpty)
        if (w.length < 3) None
        else Some(id -> w.sliding(3).map(_.mkString(" ")).toSet)
      }.toMap
      val df = sets.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
      val rare = df.filter(_._2 <= maxDf).keySet
      val ids = sets.keys.toSeq.sorted
      val expected = (for {
        a <- ids; b <- ids if a < b
        if sets(a).intersect(sets(b)).exists(rare)
        inter = sets(a).intersect(sets(b)).size
        d <- Seq((a, b, r9(inter.toDouble / sets(a).size)),
          (b, a, r9(inter.toDouble / sets(b).size)))
        if d._3 >= threshold
      } yield d).toSet
      val got = graft.ext.Dedup.containmentPairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", threshold, maxDf)
        .collect().map(r => (r.getAs[Long]("contained"), r.getAs[Long]("container"),
          r.getAs[Double]("containment"))).toSet
      assert(got === expected, s"trial $trial corpus: $texts")
    }
  }

  test("retrievalMetrics matches an in-memory reference on random runs and qrels") {
    def r9(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    val k = 10
    val runGen: Gen[(Long, List[Long])] = for {
      q <- Gen.choose(1L, 5L)
      n <- Gen.choose(1, k)
      docs <- Gen.listOfN(n * 2, Gen.choose(0L, 30L)).map(_.distinct.take(n))
    } yield (q, docs)
    val relGen: Gen[List[Long]] = Gen.choose(0, 12)
      .flatMap(Gen.listOfN(_, Gen.choose(0L, 30L))).map(_.distinct)
    samples(Gen.zip(Gen.listOfN(4, runGen), Gen.listOfN(4, relGen)), 5)
      .foreach { case (runsRaw, relsRaw) =>
        import org.apache.spark.sql.Row
        val runs = runsRaw.groupBy(_._1).map { case (q, g) => q -> g.head._2 }.toSeq
        val runRows = runs.flatMap { case (q, docs) =>
          docs.zipWithIndex.map { case (d, i) => (q, (i + 1).toLong, d) } }
        val qrels = runs.map(_._1).distinct.zip(relsRaw).flatMap {
          case (q, rels) => rels.map(q -> _) }
        val runDf = runRows.toDF("query_id", "rank", "doc_id")
        val qrelDf = qrels.toDF("query_id", "doc_id")
        val got = graft.ext.EvalOps.retrievalMetrics(runDf, qrelDf, "doc_id", k)
          .collect().map(r => r.getAs[Long]("query_id") ->
            (r.getAs[Long]("n_rel"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall"),
             r.getAs[Double]("mrr"), r.getAs[Double]("ndcg"))).toMap
        val relByQ = qrels.groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
        val ln2 = math.log(2.0)
        def term(rank: Long) = BigDecimal(r9(ln2 / math.log(rank + 1.0)))
        runs.foreach { case (q, docs) =>
          val rel = relByQ.getOrElse(q, Set.empty)
          val hits = docs.zipWithIndex.collect {
            case (d, i) if rel(d) => (i + 1).toLong }
          val nRel = rel.size.toLong
          val recall = if (nRel == 0) 0.0 else r9(hits.size.toDouble / nRel)
          val mrr = hits.headOption.map(r => r9(1.0 / r)).getOrElse(0.0)
          val dcg = hits.map(term).sum.toDouble
          val idcg = if (nRel == 0) 0.0
            else (1L to math.min(nRel, k.toLong)).map(term).sum.toDouble
          val ndcg = if (idcg == 0.0) 0.0 else r9(dcg / idcg)
          assert(got(q) === ((nRel, hits.size.toLong, recall, mrr, ndcg)),
            s"query $q run=$docs rel=$rel")
        }
      }
  }

  test("weightedSampleTopN matches an in-memory A-ES reference on random tables") {
    // the reference replays the operator's exact arithmetic: md5-front
    // uniform, ln(u)/w key, round-12 HALF_UP via BigDecimal.valueOf
    // (Spark's Round implementation), top-n by (key desc, id)
    def md5hex8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val entry: Gen[(Long, Double)] = for {
      id <- Gen.choose(0L, 100000L)
      w <- Gen.choose(1, 100000000).map(_ / 100.0)
    } yield (id, w)
    val table: Gen[List[(Long, Double)]] = Gen.choose(5, 60).flatMap(Gen.listOfN(_, entry))
    samples(table, 6).foreach { raw =>
      val rows = raw.distinctBy(_._1)
      val n = math.min(7, rows.size)
      val expected = rows.map { case (id, w) =>
        val u = (md5hex8(id.toString) + 1).toDouble / 4294967296.0
        val key = java.math.BigDecimal.valueOf(math.log(u) / w)
          .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
        (id, key)
      }.sortBy { case (id, key) => (-key, id) }.take(n).map(_._1).toSet
      val got = graft.etl.SampleOps
        .weightedSampleTopN(rows.toDF("id", "w"), "id", "w", n)
        .collect().map(_.getLong(0)).toSet
      assert(got === expected)
    }
  }

  test("CMS upper bound and mergeability hold on random weighted key tables") {
    val entry: Gen[(String, Long)] = for {
      k <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.alphaLowerChar)).map(_.mkString)
      w <- Gen.choose(1L, 100L)
    } yield (k, w)
    val table: Gen[List[(String, Long)]] = Gen.choose(3, 30).flatMap(Gen.listOfN(_, entry))
    samples(table, 6).foreach { raw =>
      val wc = raw.groupBy(_._1).map { case (k, g) => (k, g.map(_._2).sum) }.toSeq
      val df = wc.toDF("word", "cnt")
      val cells = graft.ext.SketchOps.cmsCells(df, "word", "cnt", 3, 32)
      val est = graft.ext.SketchOps.cmsEstimate(cells, df, "word", 3, 32)
        .join(df, "word")
      assert(est.filter(col("cms_est") < col("cnt")).count() === 0L)
      // split at an arbitrary boundary: cells merge by addition
      val (a, b) = wc.splitAt(wc.length / 2)
      if (a.nonEmpty && b.nonEmpty) {
        val merged = graft.ext.SketchOps.cmsCells(a.toDF("word", "cnt"), "word", "cnt", 3, 32)
          .unionByName(graft.ext.SketchOps.cmsCells(b.toDF("word", "cnt"), "word", "cnt", 3, 32))
          .groupBy(col("row"), col("bucket")).agg(sum(col("cell")).as("cell"))
        val full = graft.ext.SketchOps.cmsCells(df, "word", "cnt", 3, 32)
        assert(merged.join(full, Seq("row", "bucket"), "full_outer")
          .filter(not(merged("cell") <=> full("cell"))).count() === 0L)
      }
    }
  }

  test("topKPerGroup equals the in-memory sort-take reference on random scores") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val n = 120 + trial * 80
      // coarse scores (few distinct values) force big boundary
      // tie-groups — the path the CDF construction has to get right
      val rows = (0 until n).map { i =>
        (s"g${rnd.nextInt(4)}", i.toLong, rnd.nextInt(5).toDouble / 2.0)
      }
      val k = 1 + rnd.nextInt(12)
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expected = rows.groupBy(_._1).flatMap { case (_, rs) =>
        rs.sortBy(r => (-r._3, md5hex(r._2.toString))).take(k)
      }.map(_._2).toSet
      val got = graft.etl.SampleOps.topKPerGroup(
          rows.toDF("g", "id", "score"), "g", "score", "id", k)
        .select("id").as[Long].collect().toSet
      assert(got === expected, s"trial $trial: n=$n k=$k")
    }
  }

  test("snapshotDiff statuses equal an in-memory map diff on random snapshots") {
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { trial =>
      def snap() = (0 until 60).flatMap { k =>
        if (rnd.nextBoolean()) Some((k.toLong,
          if (rnd.nextInt(5) == 0) Option.empty[Double]
          else Option(rnd.nextInt(3).toDouble)))
        else None
      }
      val a = snap(); val b = snap()
      val (ma, mb) = (a.toMap, b.toMap)
      val expected = (ma.keySet ++ mb.keySet).map { k =>
        k -> ((ma.get(k), mb.get(k)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(x), Some(y)) if x == y => "unchanged"
          case _ => "changed"
        })
      }.toMap
      val got = graft.etl.LayoutOps.snapshotDiff(
          a.toDF("k", "v"), b.toDF("k", "v"), Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected, s"trial $trial")
    }
  }
}
