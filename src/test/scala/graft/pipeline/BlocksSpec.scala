package graft.pipeline

import graft.pipeline.blocks._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator unit tests, one section per reference unit file
  * (test/unit/block_*_test.go). */
class BlocksSpec extends AnyFunSuite {
  private val ctx = Clients.mockCtx()

  private def row(kvs: (String, PValue)*): Map[String, PValue] = kvs.toMap

  private def runPrepared(op: BlockOp, kvs: (String, PValue)*): BlockResult = {
    val prepared = op.prepare(row(kvs: _*)) match {
      case Right(p)  => p
      case Left(err) => fail(s"prepare failed: $err")
    }
    op.process(InputRow(0, prepared), ctx)
  }

  // ------------------------------------------------------------ text
  test("text_replace replaces with wrapped new text, left-trimming spaces") {
    val r = runPrepared(TextBlocks.TextReplace,
      "text" -> PStr(" hello NAME, NAME!"), "old" -> PStr(" NAME"),
      "new" -> PStr(" Ada"), "prefix" -> PStr(" <"), "suffix" -> PStr(">"))
    assert(new String(r.outputs.head, "UTF-8") == "hello <Ada>, <Ada>!")
    val every = runPrepared(TextBlocks.TextReplace,
      "text" -> PStr(" a b a"), "old" -> PStr("a"), "new" -> PStr("X"),
      "prefix" -> PStr("("), "suffix" -> PStr(")"))
    assert(new String(every.outputs.head, "UTF-8") == "(X) b (X)")
  }

  test("text_replace with an empty old follows Go's strings.ReplaceAll") {
    def replaced(text: String, old: String): String = new String(
      runPrepared(TextBlocks.TextReplace, "text" -> PStr(text),
        "old" -> PStr(old), "new" -> PStr("X")).outputs.head, "UTF-8")
    assert(replaced("ab", "") == "XaXbX")
    assert(replaced("ab", "  ") == "XaXbX") // left-trimmed to empty
    assert(replaced(" abc", "  ") == "XaXbXcX") // the text is trimmed too
    assert(replaced("", "") == "X")
    // a non-BMP character is one rune: its surrogate pair stays whole
    assert(replaced("a\uD83D\uDE00b", "") == "XaX\uD83D\uDE00XbX")
  }

  test("wrap_text concatenates prefix + text + suffix") {
    val r = runPrepared(TextBlocks.WrapText,
      "text" -> PStr("  body"), "prefix" -> PStr(" A "), "suffix" -> PStr(" Z"))
    // TrimLeft removes LEADING spaces of each part only ("A " keeps its
    // trailing space, " Z" becomes "Z") — reference parity.
    assert(new String(r.outputs.head, "UTF-8") == "A bodyZ")
    val plain = runPrepared(TextBlocks.WrapText,
      "text" -> PStr("mid"), "prefix" -> PStr("<<"), "suffix" -> PStr(">>"))
    assert(new String(plain.outputs.head, "UTF-8") == "<<mid>>")
  }

  test("join_strings joins with separator; single item short-circuits") {
    val r = runPrepared(TextBlocks.JoinStrings,
      "strings" -> PArr(Seq(PStr("a"), PStr("b"), PStr("c"))),
      "separator" -> PStr("-"))
    assert(new String(r.outputs.head, "UTF-8") == "a-b-c")
    val two = runPrepared(TextBlocks.JoinStrings,
      "strings" -> PArr(Seq(PStr("x"), PStr("y"))), "separator" -> PStr("+"))
    assert(new String(two.outputs.head, "UTF-8") == "x+y")
    val single = runPrepared(TextBlocks.JoinStrings,
      "strings" -> PArr(Seq(PStr("only"))), "separator" -> PStr("-"))
    assert(new String(single.outputs.head, "UTF-8") == "only")
  }

  test("format_string substitutes named vars; arrays join with ', '") {
    val r = runPrepared(TextBlocks.FormatString,
      "template" -> PStr("Title: {title} Tags: {tags} Missing: {nope}!"),
      "title" -> PStr("T"), "tags" -> PArr(Seq(PStr("a"), PStr("b"))))
    assert(new String(r.outputs.head, "UTF-8") == "Title: T Tags: a, b Missing: !")
  }

  test("format_string errors on unclosed brace and quoted names") {
    assert(TextBlocks.FormatString.formatString("bad {x", Map.empty).isLeft)
    assert(TextBlocks.FormatString
      .formatString("""bad {"x"}""", Map.empty).isLeft)
  }

  // --------------------------------------------------------- control
  test("stop_pipeline evaluates the six comparators on strings") {
    def stops(data: String, cond: String, value: String): Boolean =
      runPrepared(ControlBlocks.StopPipeline, "data" -> PStr(data),
        "condition" -> PStr(cond), "value" -> PStr(value)).stop
    assert(stops("a", "==", "a")); assert(!stops("a", "==", "b"))
    assert(stops("a", "!=", "b")); assert(stops("b", ">", "a"))
    assert(stops("a", "<", "b")); assert(stops("a", ">=", "a"))
    assert(stops("a", "<=", "a"))
  }

  test("upload_file passes bytes through and rejects empty") {
    val bytes = Clients.MockLLMClient.pngBytes("u")
    val r = runPrepared(ControlBlocks.UploadFile, "file" -> PBytes(bytes))
    assert(r.outputs.head.sameElements(bytes))
    assertThrows[IllegalArgumentException] {
      runPrepared(ControlBlocks.UploadFile, "file" -> PBytes(Array.empty))
    }
  }

  test("schema validation: enum rejection, required check, cast fallback") {
    // enum rejection at prepare time (block.go:163-183 validation)
    val bad = ControlBlocks.StopPipeline.prepare(row(
      "data" -> PStr("x"), "condition" -> PStr("~="), "value" -> PStr("y")))
    assert(bad.isLeft && bad.swap.toOption.get.contains("not in"))
    // required check
    val missing = TextBlocks.TextReplace.prepare(row("text" -> PStr("t")))
    assert(missing.isLeft && missing.swap.toOption.get.contains("missing required"))
    // numeric casts from JSON reprs
    val cast = MediaBlocks.VideoFromImage.prepare(row(
      "image" -> PBytes("img".getBytes), "fps" -> PStr("24"),
      "end" -> PInt(3))).toOption.get
    assert(cast("fps") == PInt(24L))
    assert(cast("end") == PNum(3.0))
  }

  test("config merge quirk: zero values never override defaults") {
    // MergeStructs "right wins only if non-zero" incl. the boolean
    // caveat (SURVEY §2.3) — false/0/"" user inputs keep defaults.
    val merged = Blocks.mergeNonZero(
      Map("a" -> PStr("default"), "flag" -> PBool(true), "n" -> PInt(5)),
      Map("a" -> PStr(""), "flag" -> PBool(false), "n" -> PInt(0)))
    assert(merged == Map("a" -> PStr("default"), "flag" -> PBool(true), "n" -> PInt(5)))
  }

  // ------------------------------------------------------- subtitles
  test("subtitles_from_transcription renders the ASS file") {
    val r = runPrepared(SubtitleBlocks.SubtitlesFromTranscription,
      "transcription" -> PBytes(Clients.MockLLMClient.defaultTranscription.getBytes("UTF-8")))
    val ass = new String(r.outputs.head, "UTF-8")
    assert(ass.startsWith("[Script Info]\nTitle: Transcription Subtitles"))
    assert(ass.contains(
      "Style: Default,Arial,30,&H00FFFFFF,&H00000000,&H00000000,-1,0,1,1.0,0.0,2,10,10,10"))
    assert(ass.contains("Dialogue: 0,00:00:00.00,00:00:02.00,Default,,0,0,0,, Hello world."))
    assert(ass.contains("Dialogue: 0,00:00:02.00,00:00:04.00,Default,,0,0,0,, Goodbye world."))
  }

  test("ASS time format is HH:MM:SS.cc") {
    assert(SubtitleBlocks.SubtitlesFromTranscription.formatTime(3723.456) == "01:02:03.45")
    assert(SubtitleBlocks.SubtitlesFromTranscription.formatTime(0.0) == "00:00:00.00")
  }

  // ----------------------------------------------------------- image
  private def dims(png: Array[Byte]): (Int, Int) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    (img.getWidth, img.getHeight)
  }

  test("image_resize resizes to requested dimensions, PNG out") {
    val src = Clients.MockLLMClient.pngBytes("resize-me")
    val r = runPrepared(ImageBlocks.ImageResize,
      "image" -> PBytes(src), "width" -> PInt(32), "height" -> PInt(16))
    assert(dims(r.outputs.head) == (32, 16))
    assert(Mime.extensionOf(r.outputs.head) == ".png")
  }

  test("image_blur keeps dimensions and changes pixels") {
    // An image with structure so blur visibly changes values.
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(x => (0 until 16).foreach(y =>
      img.setRGB(x, y, if ((x + y) % 2 == 0) 0xffffff else 0x000000)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val src = out.toByteArray
    val r = runPrepared(ImageBlocks.ImageBlur,
      "image" -> PBytes(src), "sigma" -> PNum(1.5))
    assert(dims(r.outputs.head) == (16, 16))
    assert(!r.outputs.head.sameElements(src))
  }

  test("image_add_text renders when font machinery is available") {
    if (ImageBlocks.ImageAddText.available(ctx)) {
      val src = Clients.MockLLMClient.pngBytes("canvas")
      val big = runPrepared(ImageBlocks.ImageResize,
        "image" -> PBytes(src), "width" -> PInt(200), "height" -> PInt(100))
      val r = runPrepared(ImageBlocks.ImageAddText,
        "image" -> PBytes(big.outputs.head), "text" -> PStr("hello world"),
        "font_size" -> PNum(20), "text_position" -> PStr("bottom-center"))
      assert(dims(r.outputs.head) == (200, 100))
      assert(!r.outputs.head.sameElements(big.outputs.head))
    } else info("font rendering unavailable in this JVM — detector returned false")
  }

  // ----------------------------------------------------------- media
  test("Mime sniffing matches the formats blocks emit") {
    assert(Mime.extensionOf(Clients.MockLLMClient.pngBytes("x")) == ".png")
    assert(Mime.extensionOf(Clients.MockLLMClient.mp3Bytes("x")) == ".mp3")
    assert(Mime.extensionOf("""{"a":1}""".getBytes) == ".json")
    assert(Mime.extensionOf("plain".getBytes) == ".txt")
    // brace-wrapped but not JSON (e.g. a wrap_text output) stays .txt;
    // payloads past the 64 KB parse cap fall back to the brace heuristic
    assert(Mime.extensionOf("[hello]".getBytes) == ".txt")
    assert(Mime.extensionOf("{not json}".getBytes) == ".txt")
    val bigNotJson = ("[" + "x" * (70 * 1024) + "]").getBytes
    assert(Mime.extensionOf(bigNotJson) == ".json")
    assert(Mime.extensionOf(Array[Byte](0, 0, 0, 0x18, 'f', 't', 'y', 'p') ++
      "isom".getBytes) == ".mp4")
  }

  test("audio_chunk duration strings parse like Go time.ParseDuration") {
    assert(MediaBlocks.AudioChunk.parseDuration("10m") == 600.0)
    assert(MediaBlocks.AudioChunk.parseDuration("90s") == 90.0)
    assert(MediaBlocks.AudioChunk.parseDuration("1h30m") == 5400.0)
    assertThrows[IllegalArgumentException](MediaBlocks.AudioChunk.parseDuration("nope"))
  }

  test("ffmpeg harness: argv plumbing via a stub binary") {
    // No ffmpeg in this container: install a stub that copies the last
    // -i input to the output path — the temp-file/argv/output plumbing
    // (the part the engine owns) is exercised end-to-end.
    val stub = java.nio.file.Files.createTempFile("ffmpeg-stub", ".sh")
    java.nio.file.Files.writeString(stub,
      """#!/bin/bash
        |if [ "$1" == "-version" ]; then echo stub; exit 0; fi
        |prev=""; in=""; out=""
        |for a in "$@"; do
        |  if [ "$prev" == "-i" ]; then in="$a"; fi
        |  prev="$a"; out="$a"
        |done
        |cp "$in" "$out"
        |""".stripMargin)
    stub.toFile.setExecutable(true)
    val sctx = ctx.copy(ffmpegPath = Some(stub.toString))
    assert(MediaBlocks.VideoFromImage.available(sctx))

    val png = Clients.MockLLMClient.pngBytes("frame")
    val prepared = MediaBlocks.VideoFromImage.prepare(row(
      "image" -> PBytes(png), "start" -> PNum(0), "end" -> PNum(2),
      "ffmpeg_binary" -> PStr(stub.toString))).toOption.get
    val r = MediaBlocks.VideoFromImage.process(InputRow(0, prepared), sctx)
    assert(r.outputs.head.sameElements(png)) // stub copied input → output

    // join_videos single-item short-circuit needs no binary at all
    val single = MediaBlocks.JoinVideos.prepare(row(
      "videos" -> PArr(Seq(PBytes("vid0".getBytes))))).toOption.get
    val joined = MediaBlocks.JoinVideos.process(InputRow(0, single), ctx)
    assert(new String(joined.outputs.head) == "vid0")
    java.nio.file.Files.delete(stub)
  }

  test("media blocks are unavailable without any ffmpeg binary") {
    assert(!MediaBlocks.AudioConvert.available(ctx.copy(ffmpegPath = None)) ||
      Ffmpeg.resolve(None).isDefined) // allow machines that do have ffmpeg
  }

  test("real ffmpeg (when present): one real encode per media block") {
    // Environment-gated, mirroring the reference's availability
    // detectors: with a system ffmpeg every media block runs a REAL
    // encode; bare containers keep the argv-stub coverage above.
    Ffmpeg.resolve(None) match {
      case None => info("no system ffmpeg — real-encode cases skipped")
      case Some(bin) =>
        val sctx = ctx.copy(ffmpegPath = Some(bin))
        def proc(op: BlockOp, kvs: (String, PValue)*): Array[Byte] = {
          val prepared = op.prepare(row(kvs: _*)).fold(
            e => fail(s"${op.id} prepare: $e"), identity)
          val r = op.process(InputRow(0, prepared), sctx)
          assert(r.outputs.head.nonEmpty, s"${op.id} emitted empty output")
          r.outputs.head
        }
        val png = Clients.MockLLMClient.pngBytes("real-frame")
        val v1 = proc(MediaBlocks.VideoFromImage,
          "image" -> PBytes(png), "start" -> PNum(0), "end" -> PNum(1))
        assert(Mime.extensionOf(v1) == ".mp4")
        val v2 = proc(MediaBlocks.VideoFromImage,
          "image" -> PBytes(Clients.MockLLMClient.pngBytes("other")),
          "start" -> PNum(0), "end" -> PNum(1))
        val joined = proc(MediaBlocks.JoinVideos,
          "videos" -> PArr(Seq(PBytes(v1), PBytes(v2))), "re_encode" -> PBool(true))
        assert(Mime.extensionOf(joined) == ".mp4")

        // synthesize 2 s of audio with the binary itself, then convert
        val tmp = java.nio.file.Files.createTempDirectory("real-ffmpeg")
        val wavPath = tmp.resolve("tone.wav")
        assert(Ffmpeg.run(bin, Seq("-y", "-f", "lavfi", "-i",
          "sine=frequency=440:duration=2", wavPath.toString)).isRight)
        val wav = java.nio.file.Files.readAllBytes(wavPath)
        val mp3 = proc(MediaBlocks.AudioConvert,
          "audio" -> PBytes(wav), "format" -> PStr("mp3"))
        assert(Mime.extensionOf(mp3) == ".mp3")

        val withAudio = proc(MediaBlocks.VideoAddAudio,
          "video" -> PBytes(joined), "audio" -> PBytes(mp3))
        assert(Mime.extensionOf(withAudio) == ".mp4")
        val extracted = proc(MediaBlocks.AudioFromVideo,
          "video" -> PBytes(withAudio), "format" -> PStr("mp3"))
        assert(Mime.extensionOf(extracted) == ".mp3")

        val chunkPrep = MediaBlocks.AudioChunk.prepare(row(
          "audio" -> PBytes(wav), "duration" -> PStr("1s"))).toOption.get
        val chunks = MediaBlocks.AudioChunk.process(InputRow(0, chunkPrep), sctx)
        assert(chunks.outputs.nonEmpty &&
          chunks.outputs.forall(_.nonEmpty), "audio_chunk emitted no chunks")

        val ass = SubtitleBlocks.SubtitlesFromTranscription.prepare(row(
          "transcription" -> PStr(Clients.MockLLMClient.defaultTranscription)))
          .toOption.map(p => SubtitleBlocks.SubtitlesFromTranscription
            .process(InputRow(0, p), sctx).outputs.head)
          .getOrElse(fail("subtitles_from_transcription failed"))
        val subbed = proc(MediaBlocks.VideoAddSubtitles,
          "video" -> PBytes(withAudio), "subtitles" -> PBytes(ass))
        assert(Mime.extensionOf(subbed) == ".mp4")
    }
  }

  test("http_request fetches over a real socket; non-200 is an error") {
    // in-process server — the reference's httptest pattern (§5.3)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ok", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = "payload-bytes".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      try ex.getResponseBody.write(body) finally ex.close()
    })
    server.createContext("/boom", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      val httpCtx = ctx.copy(http = new Clients.JdkHttpClient())
      val ok = ClientBlocks.HttpRequest.prepare(
        row("url" -> PStr(s"http://127.0.0.1:$port/ok"))).toOption.get
      val res = ClientBlocks.HttpRequest.process(InputRow(0, ok), httpCtx)
      assert(new String(res.outputs.head, "UTF-8") == "payload-bytes")
      val bad = ClientBlocks.HttpRequest.prepare(
        row("url" -> PStr(s"http://127.0.0.1:$port/boom"))).toOption.get
      val e = intercept[RuntimeException](
        ClientBlocks.HttpRequest.process(InputRow(0, bad), httpCtx))
      assert(e.getMessage.contains("500"))
    } finally server.stop(0)
  }

  test("fetch_moderation_tg is sequential even when the spec asks for parallel") {
    // parallel_available: false gate (config.yaml:180)
    assert(!ClientBlocks.FetchModeration.parallelAvailable)
    assert(ClientBlocks.SendModeration.parallelAvailable)
  }

  test("block registry holds the full 25-operator reference set") {
    val reg = BlockRegistry.standard()
    val expected = Set(
      "http_request", "openai_chat_completion", "openai_tts_request",
      "openai_transcription_request", "openai_image_request",
      "image_add_text", "image_resize", "image_blur",
      "video_from_image", "join_videos", "video_add_audio",
      "video_add_subtitles", "audio_from_video", "audio_chunk",
      "audio_convert", "subtitles_from_transcription", "text_replace",
      "wrap_text", "join_strings", "format_string_from_object",
      "stop_pipeline", "upload_file", "send_moderation_tg",
      "fetch_moderation_tg", "send_message_tg")
    assert(reg.ids == expected)
  }
}
