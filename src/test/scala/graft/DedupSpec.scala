package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "  The  quick brown FOX jumps over the lazy dog ", "en"), // exact dup modulo norm
    (3L, "xx the quick brown fox jumps over the lazy dog", "en"),  // near dup (one extra word)
    (4L, "completely different words appear in this sentence here", "en"),
    (5L, "ein ganz anderer deutscher satz steht hier geschrieben", "de")
  ).toDF("doc_id", "text", "lang")

  test("exact dedup groups normalized duplicates, keeps min id") {
    val got = Dedup.exact(docs, "text", "doc_id").orderBy("keep_id").collect()
    assert(got.length == 4) // 1+2 merge
    assert(got(0).getAs[Long]("keep_id") == 1L && got(0).getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH finds the near-dup pair, not the unrelated one") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical after norm → all bands match
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical-after-norm docs get identical fingerprints; near dups are close") {
    val m = Dedup.simhash32(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    val hamming = java.lang.Long.bitCount(m(1L) ^ m(3L))
    assert(hamming <= 6, s"near-dup hamming distance $hamming")
    assert(java.lang.Long.bitCount(m(1L) ^ m(4L)) > hamming)
  }

  test("star CC: 200-node chain converges to one component in O(log n) rounds") {
    // diameter 200 — hash-min propagation would need ~200 rounds; the
    // star contraction must label every node 1 within its default
    // (log-scale) iteration budget
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsStar(chain, "doc_a", "doc_b", maxIter = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 200)
    assert(got.forall(_._2 == 1L), got.filter(_._2 != 1L).take(5).mkString(","))
  }

  test("star CC: the 200-node chain throws when the round budget runs out") {
    // one round cannot contract a diameter-200 chain: the labels of an
    // unconverged round are wrong, so they must never be returned
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponentsStar(chain, "doc_a", "doc_b", maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("1 rounds"), ex.getMessage)
  }

  test("star CC: equals hash-min propagation on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("doc_a", "doc_b")
      val star = Dedup.connectedComponentsStar(df, "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val prop = Dedup.connectedComponents(df, "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(star == prop, s"trial $trial: ${star.toSet.diff(prop.toSet).take(5)}")
    }
  }

  test("ngram jaccard: bucketed pairs above threshold only") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 0.5)
      .as[(Long, Long, Double)].collect()
    val keys = got.map(t => (t._1, t._2)).toSet
    assert(keys.contains((1L, 2L)))
    assert(got.find(t => (t._1, t._2) == (1L, 2L)).get._3 == 1.0)
    assert(keys.contains((1L, 3L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }
}
