package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A query repeated in one session runs the classes its first run
  * generated. Spark keeps generated code in one JVM-wide LRU cache,
  * sized once per JVM from `spark.sql.codegen.cache.maxEntries` when
  * code is first generated; `Tables.configure` sets it. At Spark's
  * default of 100 the six `dedup_scaled` queries evict each other's
  * classes and every repeat compiles again. This spec also fails if
  * anything in the test JVM generates code through a session that was
  * not built by `Tables.configure` before the shared test session
  * exists, because the cache is then fixed at the default. */
class CodegenCacheSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val queries = Seq("dd_exact", "dd_minhash_lsh", "dd_simhash",
    "dd_simhash_wide", "dd_ngram_jaccard", "dd_cluster")

  /** 300 documents of 30-60 words from a 500-word vocabulary; one in
    * five is an earlier document with a few words substituted. */
  private lazy val dir: String = {
    val rng = new scala.util.Random(1407)
    val vocab = IndexedSeq.fill(500)(
      Iterator.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until 300).foreach { i =>
      if (i < 20 || rng.nextDouble() >= 0.2)
        texts += Seq.fill(30 + rng.nextInt(31))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      else {
        val toks = texts(rng.nextInt(texts.size)).split(" ")
        (0 until 1 + rng.nextInt(2)).foreach(_ =>
          toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.size)))
        texts += toks.mkString(" ")
      }
    }
    val d = java.nio.file.Files.createTempDirectory("codegen-cache").toString
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "seeded", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass over the dedup_scaled queries compiles no generated code") {
    def pass(): Map[String, Int] =
      queries.map(q => q -> functions.Dedup.queries(q)(spark, dir).collect().length).toMap
    val first = pass()
    assert(first("dd_minhash_lsh") > 0, s"the corpus plants near-duplicates: $first")
    val before = compiles()
    val second = pass()
    val added = compiles() - before
    assert(second == first)
    assert(added == 0, s"the second pass compiled $added classes")
  }
}
