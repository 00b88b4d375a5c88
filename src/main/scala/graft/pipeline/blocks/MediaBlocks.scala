package graft.pipeline.blocks

import graft.pipeline._
import java.nio.file.{Files, Path}

/** ffmpeg subprocess harness + the seven A/V blocks (#9-15).
  *
  * The reference shells to ffmpeg with temp files per block
  * (e.g. block_video_from_image.go:100-130); we do the same inside the
  * block body. The Runner calls it once per fan-out row, concurrently;
  * under BulkRunner each Spark task runs its own ffmpeg over its rows,
  * so a fan-out of N clips encodes with cluster parallelism. Either way
  * argv/tempfile handling stays byte-compatible with the reference.
  *
  * Availability: a Detector probes the binary (`ffmpeg -version`), like
  * the reference's detector conditions; absent binary ⇒ block
  * unavailable (the reference would transfer to a peer — E15 dropped).
  * Tests exercise the harness with a stub binary (TESTDATA container
  * has no ffmpeg), keeping the plumbing — temp files, argv shape,
  * multi-output collection — real.
  */
object Ffmpeg {

  /** Resolve the binary: explicit config path, else $PATH probe. */
  def resolve(configured: Option[String]): Option[String] = {
    val candidates = configured.filter(_.nonEmpty).toSeq ++ Seq("ffmpeg")
    candidates.find { bin =>
      try {
        val p = new ProcessBuilder(bin, "-version")
          .redirectErrorStream(true).start()
        p.getInputStream.readAllBytes()
        p.waitFor() == 0
      } catch { case _: Exception => false }
    }
  }

  def run(binary: String, args: Seq[String]): Either[String, Unit] = {
    val pb = new ProcessBuilder((binary +: args): _*)
    val proc = pb.start()
    val stderr = new String(proc.getErrorStream.readAllBytes(), "UTF-8")
    proc.getInputStream.readAllBytes()
    val code = proc.waitFor()
    if (code == 0) Right(())
    else Left(s"ffmpeg error: exit $code\nstderr: ${stderr.take(2000)}")
  }

  /** Write inputs to temp files, run `f`, clean up. */
  def withTempDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("graft-ffmpeg")
    try f(dir)
    finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  def binaryOf(row: InputRow, ctx: BlockCtx): String =
    resolve(Option(row.str("ffmpeg_binary")).filter(_.nonEmpty)
        .orElse(ctx.ffmpegPath))
      .getOrElse(throw new IllegalStateException("ffmpeg binary not available"))

  private[blocks] def mimeIs(bytes: Array[Byte], ext: String): Boolean =
    graft.pipeline.Mime.extensionOf(bytes) == ext
}

object MediaBlocks {
  import Ffmpeg._

  /** Shared detector: block available iff an ffmpeg binary resolves. */
  trait FfmpegBlock extends BlockOp {
    override def available(ctx: BlockCtx): Boolean =
      Ffmpeg.resolve(ctx.ffmpegPath).isDefined
    val ffmpegProp: PropSpec = PropSpec("ffmpeg_binary", TString, default = Some(PStr("")))
  }

  /** #9 video_from_image (block_video_from_image.go:51-139): loop a
    * still for `end-start` seconds → H.264. */
  object VideoFromImage extends FfmpegBlock {
    override val id = "video_from_image"
    override val description = "Render a still image as a video clip"
    override val props = Seq(
      PropSpec("image", TFile, required = true),
      PropSpec("start", TNumber, default = Some(PNum(0.0))),
      PropSpec("end", TNumber, default = Some(PNum(1.0))),
      PropSpec("fps", TInt, default = Some(PInt(30L))),
      PropSpec("preset", TString, default = Some(PStr("veryfast"))),
      PropSpec("crf", TInt, default = Some(PInt(23L))),
      PropSpec("format", TString, default = Some(PStr("mp4"))),
      ffmpegProp)

    override def process(row: InputRow, ctx: BlockCtx): BlockResult =
      withTempDir { dir =>
        val in = dir.resolve("input.png")
        val out = dir.resolve("output.mp4")
        Files.write(in, row.bytes("image"))
        val duration = row.props("end").asDouble - row.props("start").asDouble
        val args = Seq("-y", "-loop", "1", "-t", f"$duration%.3f",
          "-i", in.toString,
          "-vf", s"fps=${row.props("fps").asLong}",
          "-pix_fmt", "yuv420p", "-c:v", "libx264",
          "-preset", row.str("preset"),
          "-crf", row.props("crf").asLong.toString,
          "-f", row.str("format"), out.toString)
        run(binaryOf(row, ctx), args).left.foreach(e => throw new RuntimeException(e))
        BlockResult.bytes(Files.readAllBytes(out))
      }
  }

  /** #10 join_videos (block_join_videos.go:51-174): concat demuxer;
    * optional re-encode; single-video short-circuit (:77-81). */
  object JoinVideos extends FfmpegBlock {
    override val id = "join_videos"
    override val description = "Concatenate videos in input order"
    override val props = Seq(
      PropSpec("videos", TArr(TFile), required = true),
      PropSpec("re_encode", TBool, default = Some(PBool(false))),
      PropSpec("format", TString, default = Some(PStr("mp4"))),
      ffmpegProp)

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
      val videos = row.props.getOrElse("videos", PNull).asSeq.map(_.asBytes)
      if (videos.sizeIs == 1) return BlockResult.bytes(videos.head)
      withTempDir { dir =>
        val files = videos.zipWithIndex.map { case (v, i) =>
          val p = dir.resolve(s"in_$i.mp4"); Files.write(p, v); p
        }
        val list = dir.resolve("list.txt")
        Files.writeString(list, files.map(p => s"file '$p'").mkString("\n"))
        val out = dir.resolve("joined.mp4")
        val base = Seq("-y", "-f", "concat", "-safe", "0", "-i", list.toString)
        val codec =
          if (row.props.get("re_encode").exists(_.asBool))
            Seq("-c:v", "libx264", "-crf", "23", "-preset", "veryfast",
              "-pix_fmt", "yuv420p", "-f", row.str("format"),
              "-c:a", "aac", "-b:a", "192k")
          else Seq("-c", "copy")
        run(binaryOf(row, ctx), base ++ codec :+ out.toString)
          .left.foreach(e => throw new RuntimeException(e))
        BlockResult.bytes(Files.readAllBytes(out))
      }
    }
  }

  /** #11 video_add_audio (block_video_add_audio.go:50-163). */
  object VideoAddAudio extends FfmpegBlock {
    override val id = "video_add_audio"
    override val description = "Mux an audio track into a video"
    override val props = Seq(
      PropSpec("video", TFile, required = true),
      PropSpec("audio", TFile, required = true),
      PropSpec("replace_original_audio", TBool, default = Some(PBool(false))),
      ffmpegProp)

    override def process(row: InputRow, ctx: BlockCtx): BlockResult =
      withTempDir { dir =>
        val v = dir.resolve("v.mp4"); Files.write(v, row.bytes("video"))
        val a = dir.resolve("a.mp3"); Files.write(a, row.bytes("audio"))
        val out = dir.resolve("out.mp4")
        val mapArg =
          if (row.props.get("replace_original_audio").exists(_.asBool)) "0:v" else "0"
        val args = Seq("-y", "-i", v.toString, "-i", a.toString,
          "-map", mapArg, "-map", "1:a", "-c:v", "copy", out.toString)
        run(binaryOf(row, ctx), args).left.foreach(e => throw new RuntimeException(e))
        BlockResult.bytes(Files.readAllBytes(out))
      }
  }

  /** #12 video_add_subtitles (block_video_add_subtitles.go:50-185):
    * `mux` (mov_text) or `burn` (-vf ass=); MP4-only gate (:73-79). */
  object VideoAddSubtitles extends FfmpegBlock {
    override val id = "video_add_subtitles"
    override val description = "Embed ASS subtitles into a video"
    override val props = Seq(
      PropSpec("video", TFile, required = true),
      PropSpec("subtitles", TFile, required = true),
      PropSpec("embedding_type", TString, default = Some(PStr("mux")),
        enumVals = Seq("mux", "burn")),
      ffmpegProp)

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
      val video = row.bytes("video")
      if (!mimeIs(video, ".mp4"))
        throw new IllegalArgumentException("video must be MP4")
      withTempDir { dir =>
        val v = dir.resolve("v.mp4"); Files.write(v, video)
        val s = dir.resolve("subs.ass"); Files.write(s, row.bytes("subtitles"))
        val out = dir.resolve("out.mp4")
        val mid = row.str("embedding_type") match {
          case "burn" => Seq("-vf", s"ass=$s", "-c:v", "libx264",
            "-crf", "23", "-preset", "medium")
          case _ => Seq("-i", s.toString, "-c:v", "copy", "-c:s", "mov_text")
        }
        val args = Seq("-y", "-i", v.toString) ++ mid :+ out.toString
        run(binaryOf(row, ctx), args).left.foreach(e => throw new RuntimeException(e))
        BlockResult.bytes(Files.readAllBytes(out))
      }
    }
  }

  /** #13 audio_from_video (block_audio_from_video.go:51-137): extract
    * track, optional -ss/-t trim (start/end > 0 gates, :111-116). */
  object AudioFromVideo extends FfmpegBlock {
    override val id = "audio_from_video"
    override val description = "Extract the audio track of a video"
    override val props = Seq(
      PropSpec("video", TFile, required = true),
      PropSpec("start", TNumber, default = Some(PNum(-1.0))),
      PropSpec("end", TNumber, default = Some(PNum(-1.0))),
      PropSpec("format", TString, default = Some(PStr("mp3"))),
      ffmpegProp)

    override def process(row: InputRow, ctx: BlockCtx): BlockResult =
      withTempDir { dir =>
        val v = dir.resolve("v.mp4"); Files.write(v, row.bytes("video"))
        val out = dir.resolve("out.mp3")
        val start = row.props("start").asDouble
        val end = row.props("end").asDouble
        val args = Seq("-y", "-i", v.toString, "-q:a", "0", "-map", "a",
            "-f", row.str("format")) ++
          (if (start > 0) Seq("-ss", f"$start%.3f") else Nil) ++
          (if (end > 0 && end > start) Seq("-t", f"$end%.3f") else Nil) :+
          out.toString
        run(binaryOf(row, ctx), args).left.foreach(e => throw new RuntimeException(e))
        BlockResult.bytes(Files.readAllBytes(out))
      }
  }

  /** #14 audio_chunk (block_audio_chunk.go:50-165): split into
    * `duration`-sized segments; returns N buffers which the engine
    * explodes into N rows (E13). Duration strings like "10m"/"90s". */
  object AudioChunk extends FfmpegBlock {
    override val id = "audio_chunk"
    override val description = "Split audio into fixed-duration chunks"
    override val props = Seq(
      PropSpec("audio", TFile, required = true),
      PropSpec("duration", TString, default = Some(PStr("10m"))),
      ffmpegProp)

    /** Go time.ParseDuration subset: "90s", "10m", "1h30m", "1.5m". */
    def parseDuration(s: String): Double = {
      val re = "([0-9.]+)(h|m|s|ms)".r
      val ms = re.findAllMatchIn(s).map { m =>
        val v = m.group(1).toDouble
        m.group(2) match {
          case "h" => v * 3600000 case "m" => v * 60000
          case "s" => v * 1000    case _   => v
        }
      }.sum
      if (ms == 0) throw new IllegalArgumentException(s"invalid duration '$s'")
      ms / 1000.0
    }

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
      val audio = row.bytes("audio")
      if (!mimeIs(audio, ".mp3"))
        throw new IllegalArgumentException("audio must be MP3")
      withTempDir { dir =>
        val in = dir.resolve("in.mp3"); Files.write(in, audio)
        val secs = parseDuration(row.str("duration"))
        val args = Seq("-y", "-i", in.toString, "-f", "segment",
          "-segment_time", f"$secs%f", "-c", "copy",
          s"$dir/segment%03d.mp3")
        run(binaryOf(row, ctx), args).left.foreach(e => throw new RuntimeException(e))
        val chunks = Files.list(dir).sorted()
          .filter(p => p.getFileName.toString.startsWith("segment"))
          .map[Array[Byte]](Files.readAllBytes(_))
          .toArray(new Array[Array[Byte]](_)).toSeq
        BlockResult(chunks)
      }
    }
  }

  /** #15 audio_convert (block_audio_convert.go:50-146): re-encode mp3
    * with channel/rate/bitrate settings; mp3-only gate (:73-80). */
  object AudioConvert extends FfmpegBlock {
    override val id = "audio_convert"
    override val description = "Re-encode an audio file"
    override val props = Seq(
      PropSpec("audio", TFile, required = true),
      PropSpec("format", TString, default = Some(PStr("mp3"))),
      PropSpec("mono", TBool, default = Some(PBool(false))),
      PropSpec("sample_rate", TInt, default = Some(PInt(44100L))),
      PropSpec("bit_rate", TString, default = Some(PStr("64k"))),
      ffmpegProp)

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
      val audio = row.bytes("audio")
      if (!mimeIs(audio, ".mp3"))
        throw new IllegalArgumentException("audio must be MP3")
      withTempDir { dir =>
        val in = dir.resolve("in.mp3"); Files.write(in, audio)
        val out = dir.resolve("out.mp3")
        val ac = if (row.props.get("mono").exists(_.asBool)) "1" else "2"
        val args = Seq("-y", "-i", in.toString, "-ac", ac,
          "-ar", row.props("sample_rate").asLong.toString,
          "-b:a", row.str("bit_rate"), "-preset", "ultrafast", out.toString)
        run(binaryOf(row, ctx), args).left.foreach(e => throw new RuntimeException(e))
        BlockResult.bytes(Files.readAllBytes(out))
      }
    }
  }

  val all: Seq[BlockOp] = Seq(VideoFromImage, JoinVideos, VideoAddAudio,
    VideoAddSubtitles, AudioFromVideo, AudioChunk, AudioConvert)
}
