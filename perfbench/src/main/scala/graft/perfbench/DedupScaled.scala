package graft.perfbench

import graft.functions.{Dedup, SimHashRow}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, typedLit}
import org.apache.spark.sql.types._

/** `dedup_scaled`: six dedup queries over a seeded corpus with planted
  * duplicates, in passes of a seeded order, each query timed until its
  * full result is in the Spark driver (`collect` consumes every column). */
object DedupScaled {
  val docs = 4000
  val setupReps = 3
  val queries = Seq("dd_exact", "dd_minhash_lsh", "dd_simhash", "dd_simhash_wide",
    "dd_ngram_jaccard", "dd_cluster")


  /** Writes the corpus as the `documents` table under `dir`. */
  def write(spark: SparkSession, corpus: Corpus.Corpus, dir: String): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val rows = corpus.texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, "en", s"src${i % 7}", t.length.toLong)
    }
    spark.createDataFrame(new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Simhash of every document, computed by the program's expression,
    * so the checks can recompute any reported Hamming distance. */
  def simhashes(spark: SparkSession, dir: String): Map[Long, Long] =
    graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), SimHashRow.simhash64_row(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Checks one query's rows; returns the failures. */
  def check(q: String, rows: Array[Row], ref: Corpus.Reference,
      sim: => Map[Long, Long]): Seq[String] = {
    def pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    def fp(rs: Iterable[Seq[Any]], want: Iterable[Seq[Any]]): Seq[String] = {
      val (g, w) = (Checks.fingerprint(rs), Checks.fingerprint(want))
      if (g == w) Nil else Seq(s"$q: fingerprint $g, expected $w")
    }
    q match {
      case "dd_exact" =>
        val byGroup = rows.groupBy(_.getLong(1)).values
        fp(rows.map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getLong(2))), ref.exactRows) ++
          byGroup.filter(g => g.map(r => String.valueOf(r.get(3))).distinct.size != 1)
            .take(1).map(g => s"$q: group ${g.head.getLong(1)} has mixed fingerprints")
      case "dd_ngram_jaccard" =>
        fp(pairs.map(p => Seq[Any](p._1, p._2)), ref.ngramPairs.keys.map(p => Seq[Any](p._1, p._2))) ++
          rows.filter(r => math.abs(r.getDouble(2) - ref.jaccardOf(r.getLong(0), r.getLong(1))) > 1e-4)
            .take(1).map(r => s"$q: pair ${r.getLong(0)},${r.getLong(1)} jaccard ${r.getDouble(2)}")
      case "dd_cluster" =>
        fp(rows.map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getLong(2))), ref.clusterRows)
      case "dd_minhash_lsh" =>
        rows.filter { r =>
          val j = ref.jaccardOf(r.getLong(0), r.getLong(1))
          j < 0.5 || math.abs(r.getDouble(2) - j) > 1e-4
        }.take(1).map(r => s"$q: pair ${r.getLong(0)},${r.getLong(1)} does not verify")
      case _ => // simhash: recompute the distance of every reported pair
        val s = sim
        rows.filter { r =>
          val h = java.lang.Long.bitCount(s(r.getLong(0)) ^ s(r.getLong(1)))
          h > 6 || h != r.getInt(2)
        }.take(1).map(r => s"$q: pair ${r.getLong(0)},${r.getLong(1)} does not verify")
    }
  }

  final case class Exec(query: String, pass: Int, startMs: Double, endMs: Double,
      result: scala.util.Try[Array[Row]]) {
    def rows: Array[Row] = result.getOrElse(Array.empty)
    def ms: Double = endMs - startMs
  }

  def run(b: Bench): Result = {
    val spark = b.spark
    val tracer = b.tracer
    def runQuery(q: String, dir: String): Array[Row] = Dedup.queries(q)(spark, dir).collect()

    // Set-up: generate, write and answer the corpus several times, then
    // one unmeasured pass warms the JIT, code generation and the planner.
    var ref: Corpus.Reference = null
    val dir = b.scratch.resolve("corpus").toString
    val setupTimes = (0 until setupReps).map { _ =>
      val t0 = System.nanoTime()
      ref = new Corpus.Reference(Corpus.generate(b.seed, docs))
      write(spark, ref.corpus, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    val warm = queries.map(q => Exec(q, -1, 0.0, 0.0, scala.util.Try(runQuery(q, dir))))
    val warmS = (System.nanoTime() - w0) / 1e9

    // Measurement: passes over the six queries in a seeded order, at
    // least one, and no pass started that the last one says would end
    // past the deadline.
    val rng = new scala.util.Random(b.seed)
    val execs = scala.collection.mutable.ArrayBuffer[Exec]()
    val t0 = tracer.nowMs
    val deadline = t0 + b.seconds * 1000.0
    var pass = 0
    var lastMs = 0.0
    while (pass == 0 || tracer.nowMs + lastMs <= deadline) {
      val p0 = tracer.nowMs
      rng.shuffle(queries).foreach { q =>
        val s = tracer.nowMs
        val rows = scala.util.Try(runQuery(q, dir))
        execs += Exec(q, pass, s, tracer.nowMs, rows)
      }
      lastMs = tracer.nowMs - p0
      pass += 1
    }
    val t1 = tracer.nowMs

    lazy val sim = simhashes(spark, dir)
    def failuresOf(e: Exec): Seq[String] =
      e.result.fold(err => Seq(s"${e.query}: failed with $err"), check(e.query, _, ref, sim))
    val measuredFailures = execs.map(failuresOf)
    val failures = measuredFailures ++ warm.map(failuresOf)
    failures.flatten.take(5).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val failed = failures.count(_.nonEmpty)
    val passMs = execs.groupBy(_.pass).values.map(es => es.map(_.ms).sum).toSeq
    val okExecs = measuredFailures.count(_.isEmpty)
    System.err.println("[perfbench] passes_ms " + execs.groupBy(_.pass).toSeq.sortBy(_._1)
      .map { case (_, es) => es.map(e => f"${e.query}=${e.ms}%.0f").mkString(",") }.mkString(" ; "))

    val e2e = Map(
      "ops_per_s" -> okExecs / ((t1 - t0) / 1000.0),
      "latency_p50_ms" -> Stats.median(passMs),
      "latency_p90_ms" -> Stats.quantile(passMs, 0.9))
    val info = Map(
      "passes" -> pass.toDouble,
      "docs" -> docs.toDouble,
      "planted_exact" -> ref.corpus.exactPairs.size.toDouble,
      "planted_near" -> ref.corpus.nearPairs.size.toDouble,
      "ngram_pairs" -> ref.ngramPairs.size.toDouble,
      "warm_s" -> warmS) ++
      queries.map(q => s"$q.ms_p50" -> Stats.median(execs.filter(_.query == q).map(_.ms).toSeq))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        DedupLayers.derive(tracer.all, execs.toSeq, candidates(spark, dir, ref), ref)
      }
    Result(execs.size + warm.size, failed, Stats.median(setupTimes) + warmS, e2e, layers, info)
  }

  /** Candidate pair counts of the LSH queries, through the same
    * candidate generators the queries use (traced runs only). */
  def candidates(spark: SparkSession, dir: String, ref: Corpus.Reference): Map[String, Long] = {
    val base = graft.Tables.t(spark, dir, "documents")
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        coalesce(Dedup.shingles(col("text")), typedLit(Seq.empty[String])).as("shs"))
      .repartition(col("doc_id"))
    Map(
      "dd_minhash_lsh" -> Dedup.minhashCandidates(base, nDocs = ref.corpus.texts.size.toLong).count(),
      "dd_simhash" -> Dedup.simhashCandidates(spark, dir, wideBands = false).count(),
      "dd_simhash_wide" -> Dedup.simhashCandidates(spark, dir, wideBands = true).count())
  }
}
