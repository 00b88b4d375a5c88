package graft.pipeline

import graft.SparkTestSession
import graft.pipeline.Clients.{MockLLMClient, MockModerationClient, ModerationUpdate}
import graft.pipeline.Runner._
import org.scalatest.funsuite.AnyFunSuite

/** The four shipped pipeline graphs (reference config/pipelines — same
  * block DAGs, our own wording) executed end-to-end with mock clients
  * and an ffmpeg stub, mirroring the reference's functional suite
  * running its specs against httptest mocks. */
class ShippedPipelinesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val registry = BlockRegistry.standard()

  private def fixture(name: String): PipelineSpec = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource(s"/pipelines/$name.json").toURI)), "UTF-8")
    PipelineSpec.parse(json, registry.ids) match {
      case Right(s)   => s
      case Left(errs) => fail(s"$name: ${errs.mkString("; ")}")
    }
  }

  /** Stub ffmpeg: `-version` succeeds; segment outputs produce three
    * chunks; otherwise copy the last `-i` input to the output path. */
  private lazy val stubFfmpeg: String = {
    val stub = java.nio.file.Files.createTempFile("ffmpeg-stub", ".sh")
    java.nio.file.Files.writeString(stub,
      """#!/bin/bash
        |if [ "$1" == "-version" ]; then echo stub; exit 0; fi
        |out="${@: -1}"
        |if [[ "$out" == *"%03d"* ]]; then
        |  for i in 0 1 2; do printf 'ID3chunk-%d' "$i" > "${out/\%03d/00$i}"; done
        |  exit 0
        |fi
        |prev=""; in=""
        |for a in "$@"; do
        |  if [ "$prev" == "-i" ]; then in="$a"; fi
        |  prev="$a"
        |done
        |cp "$in" "$out"
        |""".stripMargin)
    stub.toFile.setExecutable(true)
    stub.toString
  }

  private val quoteAnalysis =
    """{"text":"time and tide","title":"Tides","summary":"about tides",
      |"tags":["sea","time"],
      |"background_suggestions":["sunrise coast","open ocean","moonlit bay"]}""".stripMargin

  private val transcription4 =
    """{"task":"transcribe","language":"english","duration":8.0,
      |"text":"four segment narration",
      |"segments":[
      |  {"id":0,"start":0.0,"end":2.0,"text":" first part"},
      |  {"id":1,"start":2.0,"end":4.0,"text":" second part"},
      |  {"id":2,"start":4.0,"end":6.0,"text":" third part"},
      |  {"id":3,"start":6.0,"end":8.0,"text":" fourth part"}
      |]}""".stripMargin

  private def freshConf(): (RunConfig, MockLLMClient, MockModerationClient) = {
    val llm = new MockLLMClient(chatResponse = quoteAnalysis,
      transcription = transcription4)
    // Distinct response per distinct prompt (identical consecutive
    // values collapse in MergeMaps — replicated reference quirk);
    // prompts about the quote itself return the canned analysis JSON.
    // Capture only the string, not the spec instance (the ctx ships to
    // executors for Distributed blocks).
    val qa = quoteAnalysis
    llm.chatResponder = Some((_, user) =>
      if (user.contains("tide")) qa
      else s"""{"text":"derived from: ${user.trim.replace("\"", "")}"}""")
    val mod = new MockModerationClient()
    val root = java.nio.file.Files.createTempDirectory("graft-shipped").toString
    (RunConfig(spark, registry, new CheckpointStore(root),
      BlockCtx(llm, mod, new Clients.MockHttpClient(),
        ffmpegPath = Some(stubFfmpeg))), llm, mod)
  }

  private def fakeMp4(payload: String): Array[Byte] =
    Array[Byte](0, 0, 0, 0x18) ++ "ftypisom".getBytes("UTF-8") ++ payload.getBytes("UTF-8")

  test("subtitle-muxing: upload → extract → transcribe → ASS → mux") {
    val spec = fixture("subtitle-muxing")
    val (conf, llm, _) = freshConf()
    val video = fakeMp4("movie-bytes")
    val report = process(spec, StartInput(input = Map("file" -> PBytes(video))), conf)
    assert(report.status == Completed, report.status)
    assert(scala.jdk.CollectionConverters.CollectionHasAsScala(llm.calls)
      .asScala.count(_ == "transcribe") == 1)
    val ass = new String(report.outputs("render-subtitles").head._2, "UTF-8")
    assert(ass.startsWith("[Script Info]"))
    assert(report.outputs("mux-subtitles").head._2.nonEmpty)
  }

  test("long-audio-summary: chunk → convert → transcribe per chunk → join → summarize") {
    val spec = fixture("long-audio-summary")
    val (conf, llm, _) = freshConf()
    val report = process(spec,
      StartInput(input = Map("file" -> PBytes(MockLLMClient.mp3Bytes("long-recording")))), conf)
    assert(report.status == Completed, report.status)
    // 3 chunks → 3 conversions → 3 transcriptions → 1 summary chat
    assert(report.outputs("chunk-recording").size == 3)
    assert(report.outputs("downsample-chunks").size == 3)
    val calls = scala.jdk.CollectionConverters.CollectionHasAsScala(llm.calls).asScala
    assert(calls.count(_ == "transcribe") == 3)
    assert(calls.count(_.startsWith("chat")) == 1)
    val joined = new String(report.outputs("join-texts").head._2, "UTF-8")
    // $.text of each chunk transcription, joined with ' '
    assert(joined.split(" one two three four").length >= 1)
    assert(report.outputs("summarize").head._2.nonEmpty)
  }

  test("quote-video: fan-out prompts → images → clips → concat → mux") {
    val spec = fixture("quote-video")
    val (conf, llm, _) = freshConf()
    assume(graft.pipeline.blocks.ImageBlocks.ImageAddText.available(conf.ctx),
      "font rendering unavailable")
    val report = process(spec,
      StartInput(input = Map("user_prompt" -> PStr("time and tide waits for no one"))), conf)
    assert(report.status == Completed, report.status)
    // 3 background suggestions → 3 prompt chats + 3 summaries + 1 analyze
    val calls = scala.jdk.CollectionConverters.CollectionHasAsScala(llm.calls).asScala
    assert(calls.count(_.startsWith("chat")) == 7)
    assert(calls.count(_.startsWith("image:")) == 3)
    assert(report.outputs("backgrounds").size == 3)
    // 4 transcription segments caption 4 rows zipped over 3 images →
    // MergeMaps zips to max length with inherit; clips concat + mux
    assert(report.outputs("final-video").head._2.nonEmpty)
  }

  test("short-video-generation: the flagship moderated fan-out graph") {
    val spec = fixture("short-video-generation")
    val (conf, llm, mod) = freshConf()
    assume(graft.pipeline.blocks.ImageBlocks.ImageAddText.available(conf.ctx),
      "font rendering unavailable")
    llm.chatResponse = quoteAnalysis
    val pid = newProcessingId()
    val fut = scala.concurrent.Future(
      process(spec, StartInput(), conf, pid))(scala.concurrent.ExecutionContext.global)
    // Approve the script and all four segment images.
    mod.enqueue(ModerationUpdate("approve", 0, pid, "review-script"))
    (0 to 3).foreach(i => mod.enqueue(ModerationUpdate("approve", i, pid, "review-images")))
    val report = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration.Inf)
    assert(report.status == Completed, report.status)
    // 4 transcription segments → 4 image prompts → 4 images → 4 clips
    assert(report.outputs("segment-images").size == 4)
    assert(report.outputs("segment-clips").size == 4)
    assert(report.outputs("deliver").head._2.nonEmpty)
    val sent = scala.jdk.CollectionConverters.CollectionHasAsScala(mod.sent).asScala.toSeq
    assert(sent.count(_.startsWith("review:review-script")) == 1)
    assert(sent.count(_.startsWith("review:review-images")) == 4)
    assert(sent.count(_.startsWith("message:video")) == 1)
  }
}
