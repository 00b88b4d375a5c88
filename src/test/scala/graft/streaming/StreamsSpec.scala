package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming transforms asserted against the BATCH result over the
  * same rows — the incremental plan must agree with the one the DuckDB
  * gate verifies. */
object StreamsSpec {
  case class Doc(doc_id: Long, ts: Timestamp, text: String)
}

class StreamsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  private val rows = Seq(
    Streams.Event(0, ts(5), 1, "click", 1.0),
    Streams.Event(1, ts(20), 1, "click", 2.0),
    Streams.Event(2, ts(70), 1, "view", 4.0),   // >30m gap → new session
    Streams.Event(3, ts(75), 2, "click", 8.0),
    Streams.Event(4, ts(130), 2, "click", 16.0) // >30m gap → new session
  )

  test("hourlyByType streaming result equals the batch aggregate") {
    val mem = MemoryStream[Streams.Event](spark)
    val q = Streams.hourlyByType(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streaming = spark.table("hourly")
        .orderBy("hour_start", "event_type").collect().toSeq
      val batch = Streams.hourlyByType(rows.toDF())
        .orderBy("hour_start", "event_type").collect().toSeq
      assert(streaming == batch)
      assert(batch.map(_.getLong(2)).sum == rows.size)
    } finally q.stop()
  }

  test("sessionize emits gap-separated sessions with correct aggregates") {
    val mem = MemoryStream[Streams.Event](spark)
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // advance the watermark far past every session gap so all state
      // times out and flushes
      mem.addData(Streams.Event(99, ts(10000), 9, "tick", 0.0))
      q.processAllAvailable()
      mem.addData(Streams.Event(100, ts(20000), 9, "tick", 0.0))
      q.processAllAvailable()

      val out = spark.table("sessions")
        .orderBy("user_id", "session_start")
        .as[Streams.SessionOut].collect().toSeq
        .filter(_.user_id != 9)
      assert(out.map(s => (s.user_id, s.n_events, s.sum_value)) == Seq(
        (1L, 2, 3.0), (1L, 1, 4.0), (2L, 1, 8.0), (2L, 1, 16.0)))
      assert(out.head.session_start == ts(5) && out.head.session_end == ts(20))
    } finally q.stop()
  }

  test("streaming dedup drops repeated fingerprints within the watermark") {
    import StreamsSpec.Doc
    val mem = MemoryStream[Doc](spark)
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        Doc(0, ts(1), "alpha beta"),
        Doc(1, ts(2), "beta  alpha"), // same token set → same fingerprint
        Doc(2, ts(3), "gamma delta"))
      q.processAllAvailable()
      val kept = spark.table("dedup").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept.size == 2)
      assert(kept.contains(2L))
      assert(kept.intersect(Set(0L, 1L)).size == 1) // one of the dup pair
      // batch form agrees on the same rows
      val batch = Streams.dedupStream(Seq(
        Doc(0, ts(1), "alpha beta"), Doc(1, ts(2), "beta  alpha"),
        Doc(2, ts(3), "gamma delta")).toDF())
      assert(batch.count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    val mem = MemoryStream[Streams.Event](spark)
    val joined = Streams.followersWithinHour(mem.toDF())
    val q = joined.writeStream.format("memory").queryName("followers")
      .outputMode("append").start()
    try {
      val data = Seq(
        Streams.Event(0, ts(10), 1, "error", 0.0),
        Streams.Event(1, ts(30), 1, "click", 1.0),  // within the hour
        Streams.Event(2, ts(90), 1, "click", 2.0),  // outside
        Streams.Event(3, ts(20), 2, "click", 3.0))  // other user
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData(Streams.Event(99, ts(10000), 9, "tick", 0.0)) // advance watermark
      q.processAllAvailable()
      val streaming = spark.table("followers")
        .select("err_id", "f_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = Streams.followersWithinHour(data.toDF())
        .select("err_id", "f_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streaming == batch)
      assert(batch == Set((0L, 1L)))
    } finally q.stop()
  }

  test("event file stream over the testdata directory aggregates incrementally") {
    // Copy the parquet file into a streaming source dir (bounded file
    // stream, one file per trigger).
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = Streams.eventFileStream(spark, dir.toString)
    val q = Streams.hourlyByType(stream)
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // VALUE equality against the batch aggregate over Tables.t, not
      // just a row-count total: the count is invariant under a wrong ts
      // decode (the hard-coded nanos shape put every micros-corpus event
      // in 1970 and this test still passed), while the hour buckets are
      // exactly what a broken decode scrambles
      val streamed = spark.table("file_hourly").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = Streams.hourlyByType(
          graft.Tables.t(spark, "/root/testdata/sf0.001", "events"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch,
        s"missing=${batch -- streamed} extra=${streamed -- batch}")
    } finally q.stop()
  }

  /** The sf-corpus stream-vs-batch parity protocol, shared by the
    * default-store and RocksDB pins: the corpus arrives in three waves
    * (pairs split across batches must still surface — state carries the
    * earlier bucket members; +1 on ts because an event AT the initial
    * watermark (epoch 0) is dropped as late by the event-time-timeout
    * operator, not a near-dup concern), and the streamed pair set must
    * equal the batch MinHash-LSH operator's exactly. */
  private def nearDupParity(queryName: String): Unit = {
    import StreamsSpec.Doc
    val sf = SparkTestSession.sf
    val corpus = graft.Tables.t(spark, sf, "documents")
    val docs = corpus.select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), ts(r.getLong(0) + 1), r.getString(1)))
    val mem = MemoryStream[Doc](spark)
    val out = Streams.nearDupStream(mem.toDF(), corpus)
    val q = out.writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    try {
      docs.grouped(math.max(docs.length / 3, 1)).foreach { batch =>
        mem.addData(batch.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table(queryName).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.functions.Dedup.ddMinhashLsh(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batch.nonEmpty, "corpus should contain planted near-dups")
      assert(streamed == batch,
        s"$queryName parity gap: missing=${batch -- streamed} extra=${streamed -- batch}")
    } finally q.stop()
  }

  test("event file stream decodes a nanos-shaped corpus (BIGINT ts branch)") {
    // the branch the micros corpus never exercises: a nanos-written
    // events file surfaces ts as BIGINT under nanosAsLong, and the
    // stream must bake in the div-1000 decode — the probe-at-
    // construction counterpart of SchemaDriftSpec's LongType loader test
    val micros = 123456789L // 1970-01-01T00:02:03.456789Z
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-nanos")
    // a REAL TIMESTAMP(NANOS)-annotated file (graft.NanosParquet): the
    // probe's footer guard rejects unannotated BIGINT as drift, so the
    // fixture must carry the same annotation the driver's nanos corpus did
    graft.NanosParquet.writeEvents(dir.resolve("events.parquet").toString,
      Seq((1L, micros * 1000L, 7L, "click", 1.0, "{}")))
    val stream = Streams.eventFileStream(spark, dir.toString)
    val q = stream.writeStream.format("memory").queryName("file_nanos")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_nanos")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(got == Seq(micros), s"nanos-branch decode produced $got")
    } finally q.stop()
  }

  /** Restart-recovery protocol, shared by both state-store pins: the
    * corpus streams to a PARQUET sink (exactly-once file sink — the
    * production shape; the memory sink refuses checkpoint recovery in
    * append mode) under a real `checkpointLocation`. The query is
    * stopped cold after two committed waves — `flatMapGroupsWithState`
    * bucket state populated — the remaining documents land while it is
    * DOWN, and a restarted query must resume from the checkpointed
    * offsets + state store and emit the rest. The stop boundary is
    * CHOSEN so a known near-dup pair straddles it: its first member
    * lives only in recovered state, so the pair surfacing at all proves
    * the state store round-tripped the checkpoint.
    *
    * Asserted: (1) the recovered pair set equals the batch operator's
    * (no loss); (2) the straddling pair is present (state genuinely
    * recovered, not re-derived); (3) the recovered row MULTISET equals
    * an uninterrupted control run's on the same waves (no
    * replay-duplication either — per-band at-least-once emission is
    * deterministic on identical data, so any checkpoint replay dupe
    * would show).
    *
    * State-schema note (the operational gotcha): the checkpoint pins
    * the `BucketState` encoder schema — Spark validates state-schema
    * compatibility on restart, so changing its fields (adding, say, a
    * per-member payload) breaks resume of live checkpoints; evolving
    * the bucket layout needs a new checkpoint (fresh deployment), not
    * an in-place upgrade. */
  private def nearDupRestartRecovery(tag: String): Unit = {
    import StreamsSpec.Doc
    val sf = SparkTestSession.sf
    val corpus = graft.Tables.t(spark, sf, "documents")
    val docs = corpus.select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), ts(r.getLong(0) + 1), r.getString(1)))
      .sortBy(_.doc_id)
    val batch = graft.functions.Dedup.ddMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "corpus should contain planted near-dups")
    val pos = docs.iterator.map(_.doc_id).zipWithIndex.toMap
    val straddle = batch.maxBy(p => math.abs(pos(p._2) - pos(p._1)))
    assert(math.abs(pos(straddle._2) - pos(straddle._1)) >= 1,
      s"corpus degenerated: no pair spans distinct stream positions")
    val cut = (math.min(pos(straddle._1), pos(straddle._2)) +
      math.max(pos(straddle._1), pos(straddle._2))) / 2 + 1
    val (pre, post) = docs.splitAt(cut)

    def dir(n: String) =
      java.nio.file.Files.createTempDirectory(s"neardup-$n-$tag").toString
    def start(mem: MemoryStream[Doc], out: String, ckpt: String) =
      Streams.nearDupStream(mem.toDF(), corpus)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    def rowsOf(out: String): Seq[(Long, Long, Double)] =
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // interrupted run: two committed waves, cold stop, the rest of the
    // corpus arrives while the query is down, restart from checkpoint
    val (outI, ckptI) = (dir("rst-out"), dir("rst-ckpt"))
    val mem = MemoryStream[Doc](spark)
    val q1 = start(mem, outI, ckptI)
    try pre.grouped(math.max(pre.length / 2, 1)).foreach { w =>
      mem.addData(w.toIndexedSeq); q1.processAllAvailable()
    } finally q1.stop()
    mem.addData(post.toIndexedSeq)
    val q2 = start(mem, outI, ckptI)
    try q2.processAllAvailable() finally q2.stop()

    // uninterrupted control: same waves, fresh source/sink/checkpoint
    val (outC, ckptC) = (dir("ctl-out"), dir("ctl-ckpt"))
    val memC = MemoryStream[Doc](spark)
    val qc = start(memC, outC, ckptC)
    try {
      pre.grouped(math.max(pre.length / 2, 1)).foreach { w =>
        memC.addData(w.toIndexedSeq); qc.processAllAvailable()
      }
      memC.addData(post.toIndexedSeq); qc.processAllAvailable()
    } finally qc.stop()

    val rec = rowsOf(outI)
    val ctl = rowsOf(outC)
    assert(rec.toSet == batch,
      s"$tag recovered pair set != batch: missing=${batch -- rec.toSet} " +
        s"extra=${rec.toSet -- batch}")
    assert(rec.toSet.contains(straddle),
      s"$tag pair straddling the restart must surface from recovered " +
        s"state: $straddle")
    assert(rec.sorted == ctl.sorted,
      s"$tag restart changed the emitted multiset (loss or replay dupe): " +
        s"recovered=${rec.sorted.take(10)}… control=${ctl.sorted.take(10)}…")
  }

  test("near-dup stream recovers from a checkpoint restart (default store)") {
    nearDupRestartRecovery("dflt")
  }

  test("near-dup stream recovers from a checkpoint restart (RocksDB store)") {
    // conf must stay set across BOTH starts: the provider class is read
    // at each query start, and a provider swap mid-checkpoint is exactly
    // the kind of silent incompatibility this pin exists to catch
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try nearDupRestartRecovery("rocks")
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming near-dup pairs equal the batch MinHash-LSH operator") {
    nearDupParity("near_dup")
  }

  test("streaming near-dup parity holds on the RocksDB state store") {
    // the 100 TB deployment path (SURVEY §8.4.5 companion): streaming
    // state lives in RocksDB (off-heap, spillable, changelog-
    // checkpointed), not the default heap map. The smoke measured
    // wave-for-wave behavioral equivalence; this pins it in-suite. The
    // provider class is captured at query START, so the conf swap is
    // scoped to this query alone.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try nearDupParity("near_dup_rocks")
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("null and empty texts flow through nearDupStream without pairing") {
    import StreamsSpec.Doc
    // null text → null signature → all such docs collide in one
    // constant band bucket; the exact verify must drop every pair
    // (empty shingle arrays → null jaccard), not crash — the streaming
    // face of the EdgeCorpusSpec batch semantics
    val docs = Seq(
      Doc(1L, ts(1), null), Doc(2L, ts(2), null),
      Doc(3L, ts(3), ""), Doc(4L, ts(4), "   "),
      Doc(5L, ts(5), "a b c d e f"), Doc(6L, ts(6), "a b c d e f"))
    val corpus = {
      import spark.implicits._
      docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    }
    val mem = MemoryStream[Doc](spark)
    val out = Streams.nearDupStream(mem.toDF(), corpus)
    val q = out.writeStream.format("memory").queryName("near_dup_edge")
      .outputMode("append").start()
    try {
      mem.addData(docs.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("near_dup_edge").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // docs 3/4 both carry the single "" shingle (a legitimate j=1
      // pair, matching the batch operator); null docs pair with nothing
      assert(got == Set((3L, 4L), (5L, 6L)), got)
    } finally q.stop()
  }

  test("streaming near-dup equals batch on randomized corpora") {
    import StreamsSpec.Doc
    // the streaming≡batch claim, fuzzed: 5 fixed-seed corpora with dup
    // clusters and a null-text salt, streamed in 3 arrival waves —
    // the stateful banding + stream-static verify must reproduce the
    // batch operator's pair set every time (all arrivals inside the
    // default horizon)
    val rnd = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "数据", "模型",
      "🚀", "café", "x1", "y2")
    for (i <- 1 to 5) {
      val base = (0 until 6 + rnd.nextInt(6)).map(_ =>
        (0 until 4 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      val dups = (0 until 2 + rnd.nextInt(4)).map { _ =>
        val src = base(rnd.nextInt(base.size))
        if (rnd.nextBoolean()) src else s"$src ${vocab(rnd.nextInt(vocab.size))}"
      }
      val texts = (base ++ dups ++ Seq(null: String))
      val corpus = texts.zipWithIndex.map { case (t, j) => (j + 1L, t) }
      val d = java.nio.file.Files.createTempDirectory(s"stream-rand-$i").toString
      corpus.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("rand"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      val docs = corpus.map { case (id, t) => Doc(id, ts(id + 1), t) }

      val mem = MemoryStream[Doc](spark)
      val out = Streams.nearDupStream(mem.toDF(),
        graft.Tables.t(spark, d, "documents"))
      val q = out.writeStream.format("memory").queryName(s"near_dup_rand_$i")
        .outputMode("append").start()
      try {
        docs.grouped(math.max(docs.length / 3, 1)).foreach { wave =>
          mem.addData(wave.toIndexedSeq); q.processAllAvailable()
        }
        val streamed = spark.table(s"near_dup_rand_$i").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val batch = graft.functions.Dedup.ddMinhashLsh(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(streamed == batch, s"corpus $i: missing=${batch -- streamed} " +
          s"extra=${streamed -- batch} texts=$corpus")
      } finally q.stop()
    }
  }

  test("nearDupStream's verify drops pairs the static corpus does not cover") {
    import StreamsSpec.Doc
    // the corpus contract (see nearDupStream scaladoc): candidates
    // verify via a stream-static join, so a pair of two brand-new
    // documents surfaces only if `corpus` already carries their texts.
    // Docs 21/22 are identical → they band-collide and the stateful
    // stage emits the candidate — but with a stale corpus (doc 21
    // only) the verify join cannot score doc 22 and the pair must
    // drop, NOT crash and NOT emit a partial row.
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(Doc(21L, ts(1), text), Doc(22L, ts(2), text))
    import spark.implicits._
    def run(corpus: org.apache.spark.sql.DataFrame, name: String) = {
      val mem = MemoryStream[Doc](spark)
      val q = Streams.nearDupStream(mem.toDF(), corpus)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        mem.addData(docs.toIndexedSeq)
        q.processAllAvailable()
        spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    val stale = run(Seq((21L, text)).toDF("doc_id", "text"), "near_dup_stale")
    assert(stale.isEmpty,
      s"pair must drop when the corpus lacks a member's text: $stale")
    val current = run(docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      "near_dup_current")
    assert(current == Set((21L, 22L)),
      s"same stream with a covering corpus must emit the pair: $current")
  }

  test("near-dup band buckets are evicted past the watermark horizon") {
    import StreamsSpec.Doc
    val sf = SparkTestSession.sf
    val corpus = graft.Tables.t(spark, sf, "documents")
    val text = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = graft.functions.Dedup.ddMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length >= 2, "need two disjoint planted pairs")
    val (a1, b1) = pairs.head
    // a second pair disjoint from the first AND not cross-linked to it
    // (no batch pair joins {a1,b1} with {a2,b2}), so its members cannot
    // form candidates with the evicted documents
    val linked = pairs.filter(p => Set(p._1, p._2).intersect(Set(a1, b1)).nonEmpty)
      .flatMap(p => Seq(p._1, p._2)).toSet
    val (a2, b2) = pairs
      .find(p => !linked.contains(p._1) && !linked.contains(p._2))
      .getOrElse(fail("no disjoint second pair in the corpus"))
    val filler = (0 until 2).map(i => Doc(100000L + i, ts(50000 + i),
      (0 until 25).map(j => s"filler${i}tok$j").mkString(" ")))

    val mem = MemoryStream[Doc](spark)
    val out = Streams.nearDupStream(mem.toDF(), corpus, horizonMinutes = 60)
    val q = out.writeStream.format("memory").queryName("near_dup_ttl")
      .outputMode("append").start()
    try {
      // a1 enters its buckets; the two fillers then push the watermark
      // far past a1's 60-minute timeout (the second batch fires the
      // eviction for buckets that get no new data)
      mem.addData(Doc(a1, ts(1), text(a1))); q.processAllAvailable()
      mem.addData(filler(0)); q.processAllAvailable()
      mem.addData(filler(1)); q.processAllAvailable()
      // b1 arrives after eviction → no pair; a2+b2 arrive together
      // inside the horizon → pair still forms
      mem.addData(Doc(b1, ts(50002), text(b1))); q.processAllAvailable()
      mem.addData(Doc(a2, ts(50003), text(a2)),
        Doc(b2, ts(50003), text(b2))); q.processAllAvailable()
      val streamed = spark.table("near_dup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!streamed.contains((a1, b1)),
        s"evicted bucket must not pair across the horizon: $streamed")
      assert(streamed.contains((a2, b2)),
        s"in-horizon pair must still surface: $streamed")
    } finally q.stop()
  }

  test("chained arrivals in one live bucket respect the per-pair horizon") {
    import StreamsSpec.Doc
    // three identical docs land in the same buckets at t0, t0+54m,
    // t0+108m with a 60-minute horizon: the bucket never goes quiet, yet
    // (a, c) at 108m apart must NOT pair while the adjacent pairs do —
    // the per-pair |Δts| filter, not bucket eviction, is what bounds it
    val text = (0 until 30).map(i => s"chain tok$i common body").mkString(" ")
    // ts(1) not ts(0): an event AT the initial watermark (epoch 0) is
    // dropped as late by the event-time-timeout operator
    val corpus = Seq(Doc(1, ts(1), text), Doc(2, ts(55), text),
      Doc(3, ts(109), text)).toDF()
    val mem = MemoryStream[Doc](spark)
    val out = Streams.nearDupStream(mem.toDF(), corpus, horizonMinutes = 60)
    val q = out.writeStream.format("memory").queryName("near_dup_chain")
      .outputMode("append").start()
    try {
      mem.addData(Doc(1, ts(1), text)); q.processAllAvailable()
      mem.addData(Doc(2, ts(55), text)); q.processAllAvailable()
      mem.addData(Doc(3, ts(109), text)); q.processAllAvailable()
      val streamed = spark.table("near_dup_chain").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == Set((1L, 2L), (2L, 3L)),
        s"chained session must not pair past the horizon: $streamed")
    } finally q.stop()
  }

  test("latenessMinutes bounds out-of-order tolerance independently of the horizon") {
    import StreamsSpec.Doc
    // the state-bound knob (see nearDupStream scaladoc + StreamSmoke):
    // the watermark delay defaults to the horizon (any arrival order
    // within the horizon pairs → state ~2× horizon); a near-ordered
    // stream sets latenessMinutes low to shrink state, trading away
    // tolerance for very late rows. Pinned: with horizon 120 / lateness
    // 10, in-order arrivals pair exactly as before, but a doc arriving
    // 49 minutes behind the stream head is dropped by the watermark and
    // pairs with NOTHING — even though its |Δts| to every member is
    // inside the horizon. A control stream with the default tolerance
    // on the SAME arrivals pairs it fully, so the lateness knob is the
    // only thing separating the two outcomes.
    val text = (0 until 30).map(i => s"late tok$i shared body").mkString(" ")
    val arrivals = Seq(Doc(1, ts(1), text), Doc(2, ts(30), text),
      Doc(3, ts(90), text), Doc(4, ts(31), text)) // 4 arrives after 3
    val corpus = arrivals.toDF()
    def run(name: String, lateness: Int): Set[(Long, Long)] = {
      val mem = MemoryStream[Doc](spark)
      val out = Streams.nearDupStream(mem.toDF(), corpus,
        horizonMinutes = 120, latenessMinutes = lateness)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        arrivals.foreach { d => mem.addData(d); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    // tight tolerance: after doc 3 the watermark sits at 90−10 = 80,
    // so doc 4 (ts 31) is late → dropped pre-state
    assert(run("near_dup_late", 10) == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      "late doc must be dropped under a tight tolerance")
    // default tolerance (−1 → horizon): watermark after doc 3 is
    // 90−120 < 0, doc 4 is accepted and pairs inside the horizon
    assert(run("near_dup_late_ctl", -1) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L)),
      "default tolerance must accept the same arrival")
  }

  test("a degenerate hot bucket is capped with a visible drop counter") {
    import StreamsSpec.Doc
    // 20 identical docs inside one horizon all hash to the same 16 band
    // buckets; with a cap of 8 members per bucket, arrivals 9-20 pair
    // against the retained members but are dropped as members (16 band
    // buckets × 12 capped arrivals on the accumulator)
    val text = (0 until 30).map(i => s"hot tok$i shared body").mkString(" ")
    val n = 20; val cap = 8
    val corpus = (1 to n).map(i => Doc(i, ts(i), text)).toDF()
    val dropAcc = spark.sparkContext.longAccumulator("nearDupBucketDrops")
    val worstAcc = new graft.streaming.MaxAccumulator
    spark.sparkContext.register(worstAcc, "nearDupWorstBucketDrops")
    val mem = MemoryStream[Doc](spark)
    val out = Streams.nearDupStream(mem.toDF(), corpus, horizonMinutes = 60,
      maxBucketMembers = cap, drops = Some(dropAcc),
      worstBucketDrops = Some(worstAcc))
    val q = out.writeStream.format("memory").queryName("near_dup_cap")
      .outputMode("append").start()
    // the auto-reporter must fire the advisory from the engine's own
    // progress events — no manual reportDrops call per batch
    graft.Graft.clearAdvisories(spark)
    Streams.attachDropReporter(spark, q, dropAcc, worstAcc)
    try {
      (1 to n).foreach { i =>
        mem.addData(Doc(i, ts(i), text)); q.processAllAvailable()
      }
      val autoDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!graft.Graft.advisories(spark).exists(_.contains("late<->late")) &&
        System.nanoTime() < autoDeadline) Thread.sleep(50)
      assert(graft.Graft.advisories(spark).exists(_.contains("late<->late")),
        s"auto-reporter must advise: ${graft.Graft.advisories(spark)}")
      val streamed = spark.table("near_dup_cap").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // every arrival pairs with the first `cap` retained members
      val expected = (for {
        j <- 2 to n; i <- 1 to math.min(j - 1, cap)
      } yield (i.toLong, j.toLong)).toSet
      assert(streamed == expected,
        s"capped bucket must still pair against retained members: " +
          s"missing=${expected -- streamed} extra=${streamed -- expected}")
      assert(dropAcc.value == 16L * (n - cap),
        s"drops must be visible: ${dropAcc.value}")
      // the round-17 pair-loss arithmetic: the worst bucket's CUMULATIVE
      // drop count across the waves is the blob tail (n - cap), and the
      // quoted C(w,2) bound is EXACT here — the pairs actually missing
      // from the emitted set are precisely those among the dropped
      // arrivals (a blob drops in all 16 bands at once)
      assert(worstAcc.value == (n - cap).toLong,
        s"worst bucket cumulative drops: ${worstAcc.value}")
      val allPairs = (for { j <- 2 to n; i <- 1 until j }
        yield (i.toLong, j.toLong)).toSet
      val actualLost = allPairs -- streamed
      val w = worstAcc.value
      assert(actualLost.size.toLong == w * (w - 1) / 2,
        s"bound must be exact on the blob shape: lost=${actualLost.size}")
      graft.Graft.clearAdvisories(spark)
      val adv = Streams.reportDrops(spark, dropAcc, worstAcc)
      assert(adv.exists(m => m.message.contains(s"dropped $w arrival(s)") &&
        m.message.contains(s"up to ${w * (w - 1) / 2} late<->late")),
        adv.toString)
      // round 18: the record carries the same arithmetic typed — the
      // worst bucket as `measured`, C(w,2) as `bound`
      assert(adv.exists(a => a.op == "nearDupStream" &&
        a.knob == "maxBucketMembers" && a.measured == w &&
        a.bound == w * (w - 1) / 2), adv.toString)
      // and the advisory reached the session ledger — the programmatic
      // channel an orchestrator reads
      assert(graft.Graft.advisories(spark).exists(_.contains("late<->late")),
        graft.Graft.advisories(spark).toString)
    } finally q.stop()
  }

  test("streamed loss under the cap stays within the advisory bound vs batch truth") {
    // the stream-drop measurement protocol as a STANDING gate: the
    // strongest streaming-loss evidence in the repo — stream a
    // NEAR-verbatim blob (unique tail per doc, so per-band buckets
    // differ slightly) past the member cap, then compare against the
    // BATCH operator's ground truth at a raised cap. Two properties
    // gate here, complementing the exactness pin above (identical
    // docs -> identical buckets -> bound == loss):
    //  1. VALIDITY: measured loss <= C(w,2) — the bound is a true
    //     upper bound when buckets diverge;
    //  2. LOOSENESS on this shape: loss < bound strictly — a pair
    //     dropped in one band can still emit from another, which is
    //     exactly why the advisory quotes a bound, not an estimate.
    import StreamsSpec.Doc
    import org.apache.spark.sql.functions.col
    val base = (0 until 30).map(i => s"blobgate tok$i common body").mkString(" ")
    val n = 30; val cap = 8; val waves = 3
    val docs = (1 to n).map(i =>
      Doc(i.toLong, ts(1 + (i % waves) * 10L), s"$base tail$i"))
    // batch ground truth at a raised cap: the full near-dup pair set
    val d = java.nio.file.Files.createTempDirectory("stream-drop-gate").toString
    docs.toDF().select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val truth = {
      val saved = spark.conf.getOption("graft.minhash.maxBucket")
      spark.conf.set("graft.minhash.maxBucket", (n + 10).toString)
      try graft.functions.Dedup.ddMinhashLsh(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally saved match {
        case Some(v) => spark.conf.set("graft.minhash.maxBucket", v)
        case None => spark.conf.unset("graft.minhash.maxBucket")
      }
    }
    assert(truth.size == n * (n - 1) / 2,
      s"batch control must find the full blob: ${truth.size}")
    val corpus = docs.toDF()
    val dropAcc = spark.sparkContext.longAccumulator("gateDrops")
    val worstAcc = new graft.streaming.MaxAccumulator
    spark.sparkContext.register(worstAcc, "gateWorstBucketDrops")
    val mem = MemoryStream[Doc](spark)
    val out = Streams.nearDupStream(mem.toDF(), corpus, horizonMinutes = 120,
      maxBucketMembers = cap, drops = Some(dropAcc),
      worstBucketDrops = Some(worstAcc))
    val q = out.writeStream.format("memory").queryName("near_dup_gate")
      .outputMode("append").start()
    try {
      (0 until waves).foreach { w =>
        mem.addData(docs.filter(_.doc_id % waves == w))
        q.processAllAvailable()
      }
      val streamed = spark.table("near_dup_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val missing = truth -- streamed
      val w = worstAcc.value
      val bound = w * (w - 1) / 2
      assert(streamed.subsetOf(truth),
        s"no false pairs: ${(streamed -- truth).take(5)}")
      assert(missing.nonEmpty && dropAcc.value > 0,
        s"precondition: the cap must bite (missing=${missing.size}, " +
          s"drops=${dropAcc.value})")
      assert(missing.size <= bound,
        s"VALIDITY: loss ${missing.size} must sit within C($w,2) = $bound")
      assert(missing.size < bound,
        s"LOOSENESS (this shape): perturbed tails mean some dropped " +
          s"pairs emit from other bands — loss ${missing.size} must be " +
          s"strictly under C($w,2) = $bound")
      // the advisory record quotes the same arithmetic
      val adv = Streams.reportDrops(spark, dropAcc, worstAcc)
      assert(adv.exists(a => a.measured == w && a.bound == bound),
        adv.toString)
    } finally q.stop()
  }
}
