package graft

import graft.ext.{Dedup, TextOps}
import graft.functions.{TextStats, VectorExpressions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, StringSplit}
import org.apache.spark.sql.functions._

/** Once-per-document pins for the curation operators: a per-row kernel
  * appears once per distinct call in the optimized plan (not copied
  * into pushed-down filters), exact dedup's aggregate runs once however
  * often its result is read, and the graft_* functions are registered
  * once per session.
  */
class EvalOnceSpec extends SparkSpec {
  import spark.implicits._

  /** A parquet-backed corpus: a local relation would be folded away by
    * the optimizer, kernels and all.
    */
  private lazy val docs: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("evalonce_").resolve("docs").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the river"),
      (2L, "  The  quick brown FOX jumps over the lazy dog and runs to the river "),
      (3L, "xx the quick brown fox jumps over the lazy dog and runs to the river"),
      (4L, "completely different words appear in this sentence here, plainly!"),
      (5L, "short text"))
      .toDF("doc_id", "text").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def occurrences(df: DataFrame)(pick: PartialFunction[Expression, Expression]): Int =
    df.queryExecution.optimizedPlan.collect { case p => p.expressions.flatMap(_.collect(pick)) }
      .flatten.size

  test("quality + token scoring filtered on its outputs holds one TextStats per call") {
    val scored = TextOps.withTokenCounts(TextOps.withQuality(docs, "text"), "text")
      .filter(col("quality") >= 0.5 && col("n_words") >= 10)
      .select("doc_id", "n_words", "quality", "bpe_tokens")
    // two calls (English stop list, then none): two kernels, none
    // substituted into the pushed filter
    assert(occurrences(scored) { case t: TextStats => t } === 2,
      scored.queryExecution.optimizedPlan.toString)
    assert(scored.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }

  test("withWords splits each document once, its size filter included") {
    val w = Dedup.withWords(docs, "text", 3).filter(size(col("__words")) <= 12)
    assert(occurrences(w) { case s: StringSplit => s } === 1,
      w.queryExecution.optimizedPlan.toString)
    assert(w.select("doc_id").as[Long].collect().toSet === Set(4L))
  }

  test("exact dedup: a result read by two actions hashes the corpus once") {
    val reads = spark.sparkContext.longAccumulator("text_reads")
    val seen = udf { (s: String) => reads.add(1); s }
    val counted = docs.withColumn("text", seen(col("text")))
    val kept = Dedup.exact(counted, "text", "doc_id")
    assert(kept.count() === 4L)
    assert(kept.select("keep_id").as[Long].collect().toSet === Set(1L, 3L, 4L, 5L))
    assert(reads.sum === 5L, s"the hash aggregate read ${reads.sum} texts for 5 docs")
  }

  test("register: a second call keeps the session's graft_* entries") {
    val reg = spark.sessionState.functionRegistry
    val names = Seq("graft_cosine", "graft_text_stats", "graft_might_contain")
    def entries = names.map { n =>
      val id = FunctionIdentifier(n)
      (reg.lookupFunction(id), reg.lookupFunctionBuilder(id))
    }
    VectorExpressions.register(spark)
    val first = entries
    VectorExpressions.register(spark)
    assert(first.forall { case (info, builder) => info.isDefined && builder.isDefined })
    entries.zip(first).zip(names).foreach { case (((info, builder), (info0, builder0)), n) =>
      // a rewrite stores a fresh ExpressionInfo, even for the same builder
      assert((info.get eq info0.get) && (builder.get eq builder0.get), s"$n was registered again")
    }
    val got = spark.sql("SELECT graft_hash32('abc') AS h, graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .as[(Long, Double)].head()
    val ref = Seq("abc").toDF("s").select(Dedup.hash32(col("s"))).as[Long].head()
    assert(got === ((ref, 1.0)))
  }
}
