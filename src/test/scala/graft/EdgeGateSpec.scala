package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The degenerate-corpus oracle gates, in the DEFAULT test path.
  *
  * Rounds 5–6 found 9+ real engine-vs-oracle parity bugs on corpora the
  * driver's sf tables never exercise (null/empty/whitespace texts,
  * malformed JSON, zero-norm vectors, zero-row tables), but the gate
  * lived only in the hand-run `tools/run_edge_gate.sh`. This suite runs
  * the SAME gate — python generator, Verify dump on the shared
  * test session, DuckDB comparison via `tools/check_correctness.py` —
  * so `sbt test` fails if any edge-gate query diverges.
  *
  * The query set is derived by EXCLUSION (everything in
  * `SparkEntry.queries` except the pure-TPC-H relational queries, which
  * read only the symlinked sf tables and are exercised by the standard
  * driver gate): a newly registered documents/embeddings/events query
  * is edge-gated automatically, not by remembering to edit a list. */
class EdgeGateSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import scala.sys.process._

  private val repo = new java.io.File(sys.props("user.dir")).getAbsolutePath
  private val tpchOnly = Set(
    "q1_pricing_summary", "q2_revenue_by_nation", "q3_top_orders",
    "q4_priority_exists", "q5_window_top_per_customer",
    "q6_forecast_revenue", "q7_rollup", "q8_set_ops", "q9_anti_join",
    "q13_above_avg_customers")
  private val names = SparkEntry.queries.keySet -- tpchOnly

  /** A generated corpus: "edge" (degenerate documents) or "empty"
    * (zero-row tables), over the sf tables. */
  private def corpus(mode: String): String = {
    // environment absence (a stripped container: no python toolchain,
    // no testdata mount) cancels VISIBLY rather than failing the suite
    // for a non-engine reason; an actual divergence below still fails
    assume(
      scala.util.Try(Seq("python3", "-c", "import duckdb, pyarrow").! == 0)
        .getOrElse(false),
      "python3+duckdb+pyarrow unavailable — edge gate needs the oracle toolchain")
    assume(new java.io.File(SparkTestSession.sf).isDirectory,
      s"${SparkTestSession.sf} missing — edge gate seeds from the sf corpus")
    val dir = java.nio.file.Files.createTempDirectory(s"edge-gate-$mode")
      .toAbsolutePath.toString
    val genArgs = Seq("python3", s"$repo/tools/make_edge_corpus.py", dir,
      SparkTestSession.sf) ++ (if (mode == "empty") Seq("empty") else Nil)
    assert(genArgs.! == 0, s"corpus generator failed: $genArgs")
    dir
  }
  private lazy val edgeDir = corpus("edge")

  private def gate(mode: String, dir: String): Unit = {
    val out = s"$dir.out"
    val threw = Verify.run(spark, dir, out, names)
    assert(threw.isEmpty, s"$mode corpus: queries threw: ${threw.mkString(", ")}")
    val log = new StringBuilder
    val rc = Process(Seq("python3", s"$repo/tools/check_correctness.py",
        dir, out))
      .run(ProcessLogger(l => log.append(l).append('\n'))).exitValue()
    val report = log.toString
    assert(rc == 0 && report.contains(", 0 fail"),
      s"$mode-corpus oracle gate diverged:\n" +
        report.linesIterator.filter(!_.startsWith("PASS")).mkString("\n"))
    // dd_simhash / ss_ivf_topk are approximate-by-design (no oracle
    // SQL) — the dump above still runs them and fails on a throw, so
    // the edge corpus gates their not-crashing; the checker hash-gates
    // the rest
    val oracled = (names & SparkEntry.oracleSql.keySet).size
    val passed = report.linesIterator.count(_.startsWith("PASS "))
    assert(passed == oracled,
      s"expected $oracled oracle-gated queries, checker saw $passed")
  }

  test("degenerate-document corpus: full oracle parity") { gate("edge", edgeDir) }
  test("zero-row tables: full oracle parity") { gate("empty", corpus("empty")) }

  /** A cell as text that compares by value (bytes and nested values
    * included, which `Row.toString` prints by identity). */
  private def canon(v: Any): String = v match {
    case null                       => "null"
    case b: Array[Byte]             => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row                     => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case x                          => x.toString
  }

  test("every query returns the same rows twice in one session; only label propagation leaves cached frames") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, edgeDir).collect().map(canon).toSeq.sorted
    val leaking = SparkEntry.queries.keys.toSeq.sorted.filter { q =>
      spark.catalog.clearCache()
      val first = rows(q)
      val leaked = !cache.isEmpty
      assert(rows(q) == first, s"$q: a second run in the session returned other rows")
      leaked
    }
    spark.catalog.clearCache()
    // clusterFromPairs' label-propagation loop leaves its last round
    // persisted (ROADMAP direction 1); once it releases that frame this
    // set is empty, and the assertion must say so
    assert(leaking.toSet == Set("dd_cluster", "dd_cluster_staged"))
  }

  /** Spark jobs started while `body` runs on this thread. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc) // jobs of earlier tests are not counted
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("building pl_bulk_pipeline's frame starts no Spark job beyond its table read") {
    // reading a parquet table infers its schema with one job; the
    // pipeline's stages add none
    val read = jobsDuring(Tables.t(spark, edgeDir, "documents"))
    val built = jobsDuring(pipeline.PipelineQueries.plBulkPipeline(spark, edgeDir))
    assert(built == read,
      s"building the plan started $built Spark jobs; reading its table alone starts $read")
  }
}
