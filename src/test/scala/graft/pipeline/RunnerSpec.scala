package graft.pipeline

import graft.SparkTestSession
import graft.pipeline.Clients.{MockLLMClient, MockModerationClient, ModerationUpdate}
import graft.pipeline.Runner._
import java.nio.file.{Files, Path}
import java.util.concurrent.{CompletableFuture, CountDownLatch, ForkJoinPool, TimeUnit}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** A text block that throws on fan-out row 2 and records the rows it ran. */
private class FailOnRow2(override val id: String, override val mode: ExecMode)
    extends BlockOp {
  val invoked = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  override val props = Seq(PropSpec("text", TString, required = true))
  override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
    invoked.add(row.idx)
    if (row.idx == 2) throw new IllegalStateException("boom at row 2")
    BlockResult.text(row.str("text"))
  }
}

/** End-to-end engine scenarios, mirroring the reference functional
  * suite (test/functional/pipeline_test.go): fan-out from a
  * transcription (:318-539), zip-merge alignment (:775-1042), resume
  * from checkpoint (:541-773), targeted regeneration (:1044-1330),
  * plus stop/retry/availability paths.
  */
class RunnerSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val registry = BlockRegistry.standard()

  /** Whisper verbose_json with 4 segments — the 4-way fan-out fixture
    * (same shape as the reference's, own content). */
  private val transcription4 =
    """{"task":"transcribe","language":"english","duration":8.0,
      |"text":"one two three four",
      |"segments":[
      |  {"id":0,"start":0.0,"end":2.0,"text":" seg zero"},
      |  {"id":1,"start":2.0,"end":4.0,"text":" seg one"},
      |  {"id":2,"start":4.0,"end":6.0,"text":" seg two"},
      |  {"id":3,"start":6.0,"end":8.0,"text":" seg three"}
      |]}""".stripMargin

  private def freshConf(): (RunConfig, MockLLMClient, MockModerationClient, String) = {
    val llm = new MockLLMClient(transcription = transcription4)
    val mod = new MockModerationClient()
    val root = java.nio.file.Files.createTempDirectory("graft-run").toString
    val conf = RunConfig(spark, registry,
      new CheckpointStore(root),
      BlockCtx(llm, mod, new Clients.MockHttpClient()))
    (conf, llm, mod, root)
  }

  private def parse(json: String): PipelineSpec =
    PipelineSpec.parse(json, registry.ids) match {
      case Right(s)   => s
      case Left(errs) => fail(errs.mkString("; "))
    }

  private def str(report: RunReport, slug: String, idx: Int = 0): String =
    new String(report.outputs(slug).find(_._1 == idx).get._2, "UTF-8")

  // ------------------------------------------------------------------
  test("three-block text pipeline end to end, with checkpoint layout") {
    val spec = parse(
      """{"slug":"text-pipe","title":"t","description":"d","blocks":[
        |{"id":"wrap_text","slug":"wrap","description":"wrap the request input text",
        | "input":{"prefix":"<","suffix":">"}},
        |{"id":"text_replace","slug":"replace","description":"replace the wrapped marker",
        | "input":{"old":"<","new":"["},
        | "input_config":{"property":{"text":{"origin":"wrap"}}}},
        |{"id":"join_strings","slug":"join","description":"join everything into one line",
        | "input":{"separator":"+"},
        | "input_config":{"property":{"strings":{"origin":"replace","array_input":true}}}}
        |]}""".stripMargin)
    val (conf, _, _, root) = freshConf()
    val report = process(spec, StartInput(input = Map("text" -> PStr("hello"))), conf)
    assert(report.status == Completed)
    assert(str(report, "wrap") == "<hello>")
    assert(str(report, "replace") == "[hello>")
    assert(str(report, "join") == "[hello>")
    // E11 checkpoint layout: slug/processingId/blockSlug/output_<i>.<ext>
    val dir = java.nio.file.Paths.get(root, "text-pipe", report.processingId, "replace")
    assert(java.nio.file.Files.exists(dir.resolve("output_0.txt")))
    // E14: a structured status doc exists and reads completed
    val statuses = conf.checkpoint.readDocuments("text-pipe", report.processingId, "status_")
    assert(statuses.nonEmpty)
    assert(statuses.last._2.contains(""""is_completed":true"""))
  }

  test("4-way fan-out from $.segments[*].text runs the block once per segment") {
    val spec = parse(
      """{"slug":"fanout","title":"t","description":"d","blocks":[
        |{"id":"openai_transcription_request","slug":"tr","description":"transcribe the uploaded audio bytes",
        | "input":{"audio":"fake-audio"}},
        |{"id":"wrap_text","slug":"per-seg","description":"wrap each transcription segment text",
        | "input":{"prefix":"[","suffix":"]"},
        | "input_config":{"type":"array","property":{
        |   "text":{"origin":"tr","json_path":"$.segments[*].text"}}}}
        |]}""".stripMargin)
    val (conf, _, _, _) = freshConf()
    val report = process(spec, StartInput(), conf)
    assert(report.status == Completed)
    val rows = report.outputs("per-seg").sortBy(_._1).map(r => new String(r._2, "UTF-8"))
    // TrimLeft(" ") drops whisper's leading space (reference parity)
    assert(rows == Seq("[seg zero]", "[seg one]", "[seg two]", "[seg three]"))
  }

  test("zip-merge: two star projections align positionally (E5)") {
    val spec = parse(
      """{"slug":"zip","title":"t","description":"d","blocks":[
        |{"id":"openai_transcription_request","slug":"tr","description":"transcribe the uploaded audio bytes",
        | "input":{"audio":"fake-audio"}},
        |{"id":"wrap_text","slug":"zipped","description":"zip start time with segment text",
        | "input_config":{"type":"array","property":{
        |   "prefix":{"origin":"tr","json_path":"$.segments[*].start"},
        |   "text":{"origin":"tr","json_path":"$.segments[*].text"}}}}
        |]}""".stripMargin)
    val (conf, _, _, _) = freshConf()
    val report = process(spec, StartInput(), conf)
    assert(report.status == Completed)
    val rows = report.outputs("zipped").sortBy(_._1).map(r => new String(r._2, "UTF-8"))
    assert(rows == Seq("0seg zero", "2seg one", "4seg two", "6seg three"))
  }

  test("stop_pipeline halts the run and downstream blocks never execute") {
    val spec = parse(
      """{"slug":"stopper","title":"t","description":"d","blocks":[
        |{"id":"wrap_text","slug":"first","description":"produce a marker value first",
        | "input":{"text":"sentinel"}},
        |{"id":"stop_pipeline","slug":"gate","description":"halt when the marker matches",
        | "input":{"condition":"==","value":"sentinel"},
        | "input_config":{"property":{"data":{"origin":"first"}}}},
        |{"id":"wrap_text","slug":"after","description":"must never run after the gate",
        | "input":{"text":"unreachable"}}
        |]}""".stripMargin)
    val (conf, _, _, _) = freshConf()
    val report = process(spec, StartInput(), conf)
    assert(report.status == Stopped)
    assert(!report.outputs.contains("after"))
    // negative case: condition false → completes
    val (conf2, _, _, _) = freshConf()
    val spec2 = parse(spec2Json)
    val report2 = process(spec2, StartInput(), conf2)
    assert(report2.status == Completed)
    assert(report2.outputs.contains("after"))
  }
  private val spec2Json =
    """{"slug":"stopper2","title":"t","description":"d","blocks":[
      |{"id":"wrap_text","slug":"first","description":"produce a marker value first",
      | "input":{"text":"sentinel"}},
      |{"id":"stop_pipeline","slug":"gate","description":"halt when the marker matches",
      | "input":{"condition":"==","value":"other"},
      | "input_config":{"property":{"data":{"origin":"first"}}}},
      |{"id":"wrap_text","slug":"after","description":"runs when the gate stays open",
      | "input":{"text":"reached"}}
      |]}""".stripMargin

  test("resume hydrates upstream outputs from the checkpoint (E12)") {
    val specJson =
      """{"slug":"resumable","title":"t","description":"d","blocks":[
        |{"id":"openai_chat_completion","slug":"chat","description":"expensive upstream llm call",
        | "input":{"user_prompt":"write something"}},
        |{"id":"wrap_text","slug":"decorate","description":"decorate the llm output text",
        | "input":{"prefix":"* "},
        | "input_config":{"property":{"text":{"origin":"chat"}}}}
        |]}""".stripMargin
    val spec = parse(specJson)
    val (conf, llm, _, _) = freshConf()
    val first = process(spec, StartInput(), conf)
    assert(first.status == Completed)
    val chatCallsAfterFirst = llm.calls.size()

    // Resume from the SECOND block under the same processingId: the
    // chat output must come from storage, not a re-call.
    val resumed = resume(spec, first.processingId, "decorate", conf)
    assert(resumed.status == Completed)
    assert(llm.calls.size() == chatCallsAfterFirst) // no new llm call
    assert(str(resumed, "decorate") == str(first, "decorate"))
  }

  test("moderation approve/decline flows (E8) and ack isolation per index") {
    val specJson =
      """{"slug":"moderated","title":"t","description":"d","blocks":[
        |{"id":"wrap_text","slug":"make-text","description":"produce the content to review",
        | "input":{"text":"please review me"}},
        |{"id":"send_moderation_tg","slug":"send-review","description":"send the content for human review",
        | "input":{"group_id":7},
        | "input_config":{"property":{"text":{"origin":"make-text"}}}},
        |{"id":"fetch_moderation_tg","slug":"fetch-review","description":"await the human moderation decision",
        | "input":{"block_slug":"send-review","retry_count":200,"retry_interval_ms":10}},
        |{"id":"wrap_text","slug":"publish","description":"publish after an approval arrives",
        | "input":{"text":"published"}}
        |]}""".stripMargin
    // approve → completes
    val (conf, _, mod, _) = freshConf()
    val spec = parse(specJson)
    val pid = newProcessingId()
    val fut = scala.concurrent.Future(
      process(spec, StartInput(), conf, pid))(scala.concurrent.ExecutionContext.global)
    mod.enqueue(ModerationUpdate("approve", 0, pid, "send-review"))
    val report = scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration.Inf)
    assert(report.status == Completed)
    assert(report.outputs.contains("publish"))
    assert(new String(report.outputs("fetch-review").head._2, "UTF-8")
      .contains(""""action":"approve""""))

    // decline → stops before publish
    val (conf2, _, mod2, _) = freshConf()
    val pid2 = newProcessingId()
    val fut2 = scala.concurrent.Future(
      process(spec, StartInput(), conf2, pid2))(scala.concurrent.ExecutionContext.global)
    mod2.enqueue(ModerationUpdate("decline", 0, pid2, "send-review"))
    val report2 = scala.concurrent.Await.result(fut2, scala.concurrent.duration.Duration.Inf)
    assert(report2.status == Stopped)
    assert(!report2.outputs.contains("publish"))

    // no decision → retry budget exhausts → failed (RetryFailed)
    val (conf3, _, _, _) = freshConf()
    val report3 = process(spec, StartInput(), conf3)
    assert(report3.status.isInstanceOf[Failed])
    assert(report3.status.asInstanceOf[Failed].error.contains("retry"))
  }

  test("targeted regeneration recomputes ONE index and preserves the others (E10)") {
    val specJson =
      """{"slug":"regen","title":"t","description":"d","blocks":[
        |{"id":"openai_transcription_request","slug":"tr","description":"transcribe the uploaded audio bytes",
        | "input":{"audio":"fake-audio"}},
        |{"id":"openai_image_request","slug":"images","description":"generate one image per segment text",
        | "input_config":{"type":"array","property":{
        |   "prompt":{"origin":"tr","json_path":"$.segments[*].text"}}}},
        |{"id":"send_moderation_tg","slug":"send-review","description":"send each image for human review",
        | "input":{"group_id":7,"regenerate_block_slug":"images"},
        | "input_config":{"type":"array","parallel":true,"property":{
        |   "image":{"origin":"images"},
        |   "text":{"origin":"tr","json_path":"$.segments[*].text"}}}},
        |{"id":"fetch_moderation_tg","slug":"fetch-review","description":"await the decision for every image",
        | "input":{"block_slug":"send-review","retry_count":200,"retry_interval_ms":10},
        | "input_config":{"type":"array","parallel":true,"property":{
        |   "hack_for_array_trigger":{"origin":"send-review"}}}}
        |]}""".stripMargin
    val spec = parse(specJson)
    val (conf, llm, mod, _) = freshConf()
    val pid = newProcessingId()
    val fut = scala.concurrent.Future(
      process(spec, StartInput(), conf, pid))(scala.concurrent.ExecutionContext.global)
    // First pass: approve 0,2,3 — regenerate index 1 (targets 'images').
    mod.enqueue(ModerationUpdate("approve", 0, pid, "send-review"))
    mod.enqueue(ModerationUpdate("regenerate", 1, pid, "send-review", "images"))
    mod.enqueue(ModerationUpdate("approve", 2, pid, "send-review"))
    mod.enqueue(ModerationUpdate("approve", 3, pid, "send-review"))
    // Second-pass approvals must arrive only AFTER the regeneration
    // re-ran the image block (last-decision-wins would otherwise turn
    // the regenerate into an approve). Watch for the 5th image call.
    val approver = new Thread(() => {
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        scala.jdk.CollectionConverters.CollectionHasAsScala(llm.calls)
          .asScala.count(_.startsWith("image:")) < 5) Thread.sleep(10)
      (0 to 3).foreach(i => mod.enqueue(ModerationUpdate("approve", i, pid, "send-review")))
    })
    approver.start()
    val report = scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration.Inf)
    approver.join()
    assert(report.status == Completed)
    // images regenerated exactly once beyond the initial 4 calls
    val imageCalls = scala.jdk.CollectionConverters
      .CollectionHasAsScala(llm.calls).asScala.count(_.startsWith("image:"))
    assert(imageCalls == 5, s"expected 4 initial + 1 regenerated, got $imageCalls")
    assert(report.outputs("images").size == 4)
  }

  test("unavailable block halts the run with a transferred ledger entry (E15 dropped)") {
    val spec = parse(
      """{"slug":"unavail","title":"t","description":"d","blocks":[
        |{"id":"openai_chat_completion","slug":"chat","description":"llm call with an unavailable client",
        | "input":{"user_prompt":"hi"}}
        |]}""".stripMargin)
    val (conf, llm, _, _) = freshConf()
    llm.availableFlag = false
    val report = process(spec, StartInput(), conf)
    assert(report.status.isInstanceOf[Failed])
    assert(report.ledger.exists(_.status == "transferred"))
  }

  test("destinationSlug bounds the TargetIndex skip window") {
    // tr → wrapA (fan-out) → wrapB: restart at wrapA, target idx 1,
    // destination wrapB ⇒ wrapA AND intermediate blocks recompute only
    // idx 1; the destination block recomputes every index.
    val spec = parse(
      """{"slug":"dest","title":"t","description":"d","blocks":[
        |{"id":"openai_transcription_request","slug":"tr","description":"transcribe the uploaded audio bytes",
        | "input":{"audio":"fake-audio"}},
        |{"id":"wrap_text","slug":"wrapA","description":"first wrap of each segment text",
        | "input":{"prefix":"A["},
        | "input_config":{"type":"array","property":{
        |   "text":{"origin":"tr","json_path":"$.segments[*].text"}}}},
        |{"id":"wrap_text","slug":"wrapB","description":"second wrap over the first one",
        | "input":{"prefix":"B["},
        | "input_config":{"type":"array","property":{
        |   "text":{"origin":"wrapA"}}}}
        |]}""".stripMargin)
    val (conf, _, _, _) = freshConf()
    val first = process(spec, StartInput(), conf)
    assert(first.status == Completed)
    // restart with a poisoned replay input for idx 1 only
    val resumed = process(spec,
      StartInput("wrapA", Map("text" -> PStr("REGEN"), "prefix" -> PStr("A[")),
        targetIndex = 1, destinationSlug = "wrapB"),
      conf, first.processingId)
    assert(resumed.status == Completed)
    val a = resumed.outputs("wrapA").sortBy(_._1).map(r => new String(r._2, "UTF-8"))
    assert(a(1) == "A[REGEN")            // target idx recomputed from replay
    assert(a(0) == "A[seg zero")         // siblings preserved from checkpoint
    assert(a(3) == "A[seg three")
    val b = resumed.outputs("wrapB").sortBy(_._1).map(r => new String(r._2, "UTF-8"))
    assert(b == Seq("B[A[seg zero", "B[A[REGEN", "B[A[seg two", "B[A[seg three"),
      b.mkString("; "))
  }

  test("resume without a checkpoint fails with a clear origin error") {
    val spec = parse(
      """{"slug":"cold","title":"t","description":"d","blocks":[
        |{"id":"wrap_text","slug":"first","description":"produce the upstream value",
        | "input":{"text":"v"}},
        |{"id":"wrap_text","slug":"second","description":"depends on the first block",
        | "input_config":{"property":{"text":{"origin":"first"}}}}
        |]}""".stripMargin)
    val (conf, _, _, _) = freshConf()
    val report = resume(spec, "no-such-processing", "second", conf)
    assert(report.status.isInstanceOf[Failed])
    assert(report.status.asInstanceOf[Failed].error.contains("origin first not found"))
  }

  test("checkpoint write failure is non-fatal: run completes on memory state") {
    // the reference's no-space-left storage fault injection
    // (test/unit/main_test.go noSpaceLeftLocalStorage)
    val root = java.nio.file.Files.createTempDirectory("graft-nospace").toString
    val failing = new CheckpointStore(root) {
      override def saveOutput(pipeline: String, processingId: String,
          blockSlug: String, rows: Seq[(Int, Array[Byte])]): Seq[(String, String)] =
        throw new java.io.IOException("no space left on device")
    }
    val spec = parse(
      """{"slug":"nospace","title":"t","description":"d","blocks":[
        |{"id":"wrap_text","slug":"wrap","description":"wrap text despite failing storage",
        | "input":{"text":"still works","prefix":"<",  "suffix":">"}}
        |]}""".stripMargin)
    val conf = RunConfig(spark, registry, failing, Clients.mockCtx())
    val report = process(spec, StartInput(), conf)
    assert(report.status == Completed)
    assert(str(report, "wrap") == "<still works>")
    assert(report.ledger.exists(e =>
      e.status == "checkpoint_failed" && e.error.contains("no space left")))
  }

  test("multi-storage fan-out: failing store is ledgered, resume uses the survivor") {
    // two roots; the second is a plain FILE, so every write to it fails
    // mid-pipeline (the reference's per-storage SavedOutput error,
    // pipeline_block_data_registry.go:291-334)
    val good = java.nio.file.Files.createTempDirectory("graft-ms-good").toString
    val badFile = java.nio.file.Files.createTempFile("graft-ms-bad", ".notadir")
    val bad = badFile.toString
    val store = new CheckpointStore(Seq(good, bad))
    val spec = parse(
      """{"slug":"ms-pipe","title":"t","description":"d","blocks":[
        |{"id":"wrap_text","slug":"wrap","description":"wrap text across two stores",
        | "input":{"text":"dual","prefix":"<","suffix":">"}},
        |{"id":"text_replace","slug":"replace","description":"replace the wrap marker char",
        | "input":{"old":"<","new":"["},
        | "input_config":{"property":{"text":{"origin":"wrap"}}}}
        |]}""".stripMargin)
    val conf = RunConfig(spark, registry, store, Clients.mockCtx())
    val report = process(spec, StartInput(), conf)
    assert(report.status == Completed)
    assert(str(report, "replace") == "[dual>")
    // the failing root is named in the ledger, once per stage write
    assert(report.ledger.exists(e =>
      e.status == "checkpoint_failed" && e.error.startsWith(bad)))
    // and the surviving root holds the checkpoints
    assert(store.loadOutput("ms-pipe", report.processingId, "wrap").isDefined)

    // resume from the survivor: a fresh store with the DEAD root
    // preferred still loads the checkpoint (preference falls through)
    val resumed = new CheckpointStore(Seq(bad, good))
    val loaded = resumed.loadOutput("ms-pipe", report.processingId, "wrap")
    assert(loaded.isDefined &&
      new String(loaded.get.head._2, "UTF-8") == "<dual>")
    val conf2 = RunConfig(spark, registry, resumed, Clients.mockCtx())
    val rerun = process(spec,
      StartInput(blockSlug = "replace"), conf2, report.processingId)
    assert(rerun.status == Completed)
    assert(str(rerun, "replace") == "[dual>")
  }

  test("E13: a single-input stage returning N buffers explodes to N rows") {
    // audio_chunk via the ffmpeg stub: the stub writes one output file,
    // so emulate the explode with a synthetic block result instead —
    // upload_file (1 buffer) vs a stub block is overkill; use the
    // Runner path by chunking through a fake binary that produces 3
    // segments.
    val stub = java.nio.file.Files.createTempFile("ffmpeg-seg", ".sh")
    java.nio.file.Files.writeString(stub,
      """#!/bin/bash
        |if [ "$1" == "-version" ]; then echo stub; exit 0; fi
        |out="${@: -1}"   # e.g. /tmp/dir/segment%03d.mp3
        |for i in 0 1 2; do
        |  printf 'ID3chunk-%d' "$i" > "${out/\%03d/00$i}"
        |done
        |""".stripMargin)
    stub.toFile.setExecutable(true)
    val spec = parse(
      s"""{"slug":"chunks","title":"t","description":"d","blocks":[
         |{"id":"audio_chunk","slug":"chunk","description":"split the audio into three chunks",
         | "input":{"duration":"2s","ffmpeg_binary":"${stub.toString}"}}
         |]}""".stripMargin)
    val (conf0, _, _, _) = freshConf()
    val conf = conf0.copy(ctx = conf0.ctx.copy(ffmpegPath = Some(stub.toString)))
    val audio = MockLLMClient.mp3Bytes("long-audio")
    val report = process(spec,
      StartInput(input = Map("audio" -> PBytes(audio))), conf)
    assert(report.status == Completed)
    val rows = report.outputs("chunk").sortBy(_._1).map(r => new String(r._2, "UTF-8"))
    assert(rows == Seq("ID3chunk-0", "ID3chunk-1", "ID3chunk-2"))
    java.nio.file.Files.delete(stub)
  }

  test("a run launches no Spark job: every block runs through process()") {
    val textSpec = parse(
      """{"slug":"no-jobs-text","title":"t","description":"d","blocks":[
        |{"id":"text_replace","slug":"replace","description":"replace a word of the request text",
        | "input":{"old":"cat","new":"dog"}},
        |{"id":"wrap_text","slug":"wrap","description":"wrap the replaced text",
        | "input":{"prefix":"<","suffix":">"},
        | "input_config":{"property":{"text":{"origin":"replace"}}}},
        |{"id":"join_strings","slug":"join","description":"join the wrapped text",
        | "input":{"separator":"+"},
        | "input_config":{"property":{"strings":{"origin":"wrap","array_input":true}}}},
        |{"id":"format_string_from_object","slug":"format","description":"format the joined text",
        | "input":{"template":"out={body}"},
        | "input_config":{"property":{"body":{"origin":"join"}}}}
        |]}""".stripMargin)
    val imageSpec = parse(
      """{"slug":"no-jobs-image","title":"t","description":"d","blocks":[
        |{"id":"upload_file","slug":"upload","description":"accept the uploaded image bytes"},
        |{"id":"image_resize","slug":"resize","description":"resize the upload to a square",
        | "input":{"width":16,"height":16,"keep_aspect_ratio":false},
        | "input_config":{"property":{"image":{"origin":"upload"}}}}
        |]}""".stripMargin)
    val (conf, _, _, _) = freshConf()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc) // jobs of earlier tests are not counted
    sc.addSparkListener(listener)
    try {
      val text = process(textSpec,
        StartInput(input = Map("text" -> PStr("the cat sat"))), conf)
      assert(text.status == Completed)
      assert(str(text, "format") == "out=<the dog sat>")
      val image = process(imageSpec, StartInput(input = Map(
        "file" -> PBytes(MockLLMClient.pngBytes("no-jobs")))), conf)
      assert(image.status == Completed)
      val resized = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(image.outputs("resize").head._2))
      assert((resized.getWidth, resized.getHeight) == ((16, 16)))
      ListenerBusDrain(sc)
      assert(jobs.get == 0, s"${jobs.get} Spark jobs launched by pipeline runs")
    } finally sc.removeSparkListener(listener)
  }

  test("a block throwing on fan-out row 2 of 4 fails the run; rows 0-1 survive") {
    val pure = new FailOnRow2("fail_pure", Distributed)
    val ordered = new FailOnRow2("fail_ordered", DriverSide)
    val reg = new BlockRegistry(registry.byId.values.toSeq ++ Seq(pure, ordered))
    Seq(pure, ordered).foreach { op =>
      val spec = PipelineSpec.parse(
        s"""{"slug":"${op.id}","title":"t","description":"d","blocks":[
           |{"id":"openai_transcription_request","slug":"tr","description":"transcribe the uploaded audio bytes",
           | "input":{"audio":"fake-audio"}},
           |{"id":"${op.id}","slug":"boom","description":"throw on the third segment",
           | "input_config":{"type":"array","property":{
           |   "text":{"origin":"tr","json_path":"$$.segments[*].text"}}}}
           |]}""".stripMargin, reg.ids).fold(e => fail(e.mkString("; ")), identity)
      val (conf0, _, _, _) = freshConf()
      val conf = conf0.copy(registry = reg)
      val report = process(spec, StartInput(), conf)
      assert(report.status.isInstanceOf[Failed], op.id)
      assert(report.ledger.exists(e => e.block == "boom" && e.idx == 2 && e.status == "failed"))
      assert(report.ledger.filter(e => e.block == "boom" && e.status == "completed")
        .map(_.idx).sorted == Seq(0, 1), op.id)
      // rows 0-1 are committed and checkpointed; row 3 is not committed
      assert(report.outputs("boom").map(_._1).sorted == Seq(0, 1), op.id)
      val saved = conf.checkpoint.loadOutput(spec.slug, report.processingId, "boom")
      assert(saved.map(_.map(_._1).sorted).contains(Seq(0, 1)), op.id)
    }
    // the sequential side-effecting block aborts before row 3
    assert(scala.jdk.CollectionConverters.CollectionHasAsScala(ordered.invoked)
      .asScala.toSeq == Seq(0, 1, 2))
  }

  test("a tree written through Hadoop's LocalFileSystem (.crc sidecars) loads and resumes") {
    val spec = parse(
      """{"slug":"legacy","title":"t","description":"d","blocks":[
        |{"id":"openai_chat_completion","slug":"chat","description":"expensive upstream llm call",
        | "input":{"user_prompt":"write something"}},
        |{"id":"wrap_text","slug":"decorate","description":"decorate the llm output text",
        | "input":{"prefix":"* "},
        | "input_config":{"property":{"text":{"origin":"chat"}}}}
        |]}""".stripMargin)
    val (conf, llm, _, root) = freshConf()
    val first = process(spec, StartInput(), conf)
    assert(first.status == Completed)
    val pid = first.processingId

    // the same tree, every file written through the checksummed local FS
    // as the Hadoop-based store wrote it
    val src = java.nio.file.Paths.get(root)
    val legacy = Files.createTempDirectory("graft-legacy")
    val fs = FileSystem.getLocal(new Configuration())
    Files.walk(src).filter(Files.isRegularFile(_)).forEach { p =>
      val out = fs.create(new HPath(legacy.resolve(src.relativize(p)).toString))
      try out.write(Files.readAllBytes(p)) finally out.close()
    }
    def names(d: Path): Set[String] = scala.util.Using.resource(Files.list(d))(
      _.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet)
    val chatDir = legacy.resolve(s"legacy/$pid/chat")
    val chatFile = names(chatDir).find(_.startsWith("output_0")).get
    assert(Files.exists(chatDir.resolve(s".$chatFile.crc")))

    val store = new CheckpointStore(legacy.toString)
    def texts(rows: Seq[(Int, Array[Byte])]) = rows.map(r => (r._1, new String(r._2, "UTF-8")))
    assert(store.loadOutput("legacy", pid, "chat").map(texts).contains(texts(first.outputs("chat"))))
    Seq("status_", "log_").foreach { prefix =>
      val docs = store.readDocuments("legacy", pid, prefix)
      assert(docs.nonEmpty && docs == conf.checkpoint.readDocuments("legacy", pid, prefix))
    }
    val calls = llm.calls.size()
    val resumed = resume(spec, pid, "decorate", conf.copy(checkpoint = store))
    assert(resumed.status == Completed)
    assert(llm.calls.size() == calls)
    assert(str(resumed, "decorate") == str(first, "decorate"))

    // a rewritten output drops its stale sidecar; an untouched one keeps it
    val decorateDir = legacy.resolve(s"legacy/$pid/decorate")
    assert(Files.exists(decorateDir.resolve("output_0.txt")))
    assert(!Files.exists(decorateDir.resolve(".output_0.txt.crc")))
    assert(Files.exists(chatDir.resolve(s".$chatFile.crc")))
    // replacing under another extension deletes the old file and its sidecar
    assert(store.saveOutput("legacy", pid, "chat", Seq(0 -> """{"a":1}""".getBytes("UTF-8"))).isEmpty)
    assert(names(chatDir) == Set("output_0.json"), names(chatDir))
    // and Hadoop, which verifies sidecars, still reads every file
    Files.walk(legacy).filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".")).forEach { p =>
      val in = fs.open(new HPath(p.toString))
      try in.readAllBytes() finally in.close()
    }
  }

  test("a parallel fan-out completes while every global pool worker is busy") {
    val list = (0 until 8).map(i => s"\"r$i\"").mkString("{\"items\":[", ",", "]}")
    val spec = parse(
      s"""{"slug":"busy","title":"t","description":"d","blocks":[
        |{"id":"wrap_text","slug":"list","description":"emit eight items as json",
        | "input":{"text":${Json.render(PStr(list))}}},
        |{"id":"wrap_text","slug":"each","description":"wrap every item in brackets",
        | "input":{"prefix":"[","suffix":"]"},
        | "input_config":{"type":"array","parallel":true,"property":{
        |   "text":{"origin":"list","json_path":"$$.items[*]"}}}}
        |]}""".stripMargin)
    val (conf, _, _, _) = freshConf()
    val global = scala.concurrent.ExecutionContext.global
    val workers = global.asInstanceOf[ForkJoinPool].getParallelism
    val started = new CountDownLatch(workers)
    val release = new CountDownLatch(1)
    try {
      (1 to workers).foreach(_ => global.execute { () =>
        started.countDown(); release.await()
      })
      assert(started.await(10, TimeUnit.SECONDS), "pool workers did not all start")
      val result = new CompletableFuture[RunReport]()
      val caller = new Thread(() =>
        try result.complete(process(spec, StartInput(), conf))
        catch { case t: Throwable => result.completeExceptionally(t) })
      caller.setDaemon(true)
      caller.start()
      val report = result.get(10, TimeUnit.SECONDS)
      assert(report.status == Completed)
      assert(report.outputs("each").sortBy(_._1).map(r => new String(r._2, "UTF-8")) ==
        (0 until 8).map(i => s"[r$i]"))
    } finally release.countDown()
  }
}
