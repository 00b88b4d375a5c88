package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The data-plane executor: agreement with the control-plane Runner on
  * pure-compute specs, and distributed behavior on a fan-out far past
  * driver-materialization comfort. */
class BulkRunnerSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val registry = BlockRegistry.standard()

  private val transcription =
    """{"segments":[{"text":" alpha"},{"text":" beta"},{"text":" gamma"}]}"""

  // upload(tr) → wrap per segment (star fan-out) → replace → join
  private val spec = PipelineSpec("bulk-pipe", "t", "d", Seq(
    BlockSpec("upload_file", "tr", "carry the transcription json",
      input = Map("file" -> PStr(transcription))),
    BlockSpec("wrap_text", "per-seg", "wrap each segment text",
      input = Map("prefix" -> PStr("["), "suffix" -> PStr("]")),
      inputConfig = Some(InputConfig(isArray = true, property = Map(
        "text" -> PropertyWiring("tr", Some("$.segments[*].text")))))),
    BlockSpec("text_replace", "replace", "replace the bracket marker",
      input = Map("old" -> PStr("["), "new" -> PStr("{")),
      inputConfig = Some(InputConfig(isArray = true, property = Map(
        "text" -> PropertyWiring("per-seg"))))),
    BlockSpec("join_strings", "join", "join the wrapped segments",
      input = Map("separator" -> PStr("|")),
      inputConfig = Some(InputConfig(property = Map(
        "strings" -> PropertyWiring("replace", arrayInput = true)))))))

  test("bulk executor agrees with the control-plane Runner") {
    val bulkConf = BulkRunner.BulkConfig(spark, registry, Clients.mockCtx())
    val bulk = BulkRunner.run(spec, Map.empty, bulkConf)
    val bulkRows = bulk("per-seg").orderBy("idx").collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8")).toSeq
    assert(bulkRows == Seq("[alpha]", "[beta]", "[gamma]"))
    val bulkJoin = new String(
      bulk("join").collect()(0).getAs[Array[Byte]]("value"), "UTF-8")

    val runnerConf = Runner.RunConfig(spark, registry,
      new CheckpointStore(
        java.nio.file.Files.createTempDirectory("bulk-vs-runner").toString),
      Clients.mockCtx())
    val report = Runner.process(spec, Runner.StartInput(), runnerConf)
    assert(report.status == Runner.Completed)
    val runnerJoin = new String(report.outputs("join").head._2, "UTF-8")
    assert(bulkJoin == runnerJoin)
    assert(bulkJoin == "{alpha]|{beta]|{gamma]")
  }

  test("driver-side blocks are rejected with a clear message") {
    val bad = PipelineSpec("bad", "t", "d", Seq(
      BlockSpec("openai_chat_completion", "chat", "needs the control plane",
        input = Map("user_prompt" -> PStr("hi")))))
    val e = intercept[IllegalArgumentException] {
      BulkRunner.run(bad, Map.empty,
        BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
    }
    assert(e.getMessage.contains("control-plane Runner"))
  }

  test("generic path keeps binary props binary and types numeric props") {
    // a real PNG (non-UTF8 bytes: a string round-trip would corrupt it)
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(1, 1, 0xff8800)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    assert(new String(png, "UTF-8").getBytes("UTF-8").toSeq != png.toSeq,
      "fixture must not survive a UTF-8 round-trip, or the test proves nothing")

    val initial = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(0, png)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.BinaryType))))
    val resizeSpec = PipelineSpec("bulk-binary", "t", "d", Seq(
      BlockSpec("image_resize", "resize", "shrink the wired binary image",
        input = Map("width" -> PInt(2L), "height" -> PInt(2L)),
        inputConfig = Some(InputConfig(property = Map(
          "image" -> PropertyWiring("src")))))))
    val out = BulkRunner.run(resizeSpec, Map("src" -> initial),
      BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
    val bytes = out("resize").collect()(0).getAs[Array[Byte]]("value")
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(decoded != null, "resize output must decode as an image")
    assert(decoded.getWidth == 2 && decoded.getHeight == 2)
  }

  test("a NULL wired input yields a NULL row for every block; fan-in drops it") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.BinaryType)))
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val initial = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(0, "a x".getBytes("UTF-8")),
      org.apache.spark.sql.Row(1, null),
      org.apache.spark.sql.Row(2, "b".getBytes("UTF-8")),
      org.apache.spark.sql.Row(3, baos.toByteArray)), schema)
    def fanOut(id: String, slug: String, origin: String,
        input: Map[String, PValue], prop: String) =
      BlockSpec(id, slug, s"$id over every row",
        input = input, inputConfig = Some(InputConfig(isArray = true,
          property = Map(prop -> PropertyWiring(origin)))))
    val nullSpec = PipelineSpec("bulk-null", "t", "d", Seq(
      fanOut("wrap_text", "wrap", "text",
        Map("prefix" -> PStr("<"), "suffix" -> PStr(">")), "text"),
      BlockSpec("join_strings", "join", "join the wrapped rows",
        input = Map("separator" -> PStr("|")),
        inputConfig = Some(InputConfig(property = Map(
          "strings" -> PropertyWiring("wrap", arrayInput = true))))),
      fanOut("image_resize", "resize", "image",
        Map("width" -> PInt(2L), "height" -> PInt(2L)), "image")))
    val out = BulkRunner.run(nullSpec, Map(
        "text" -> initial.where(col("idx") < 3),
        "image" -> initial.where(col("idx") === 1 || col("idx") === 3)),
      BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
    def rows(slug: String) = out(slug).orderBy("idx").collect().toSeq
      .map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]]("value")))

    assert(rows("wrap").map { case (i, v) => i -> v.map(new String(_, "UTF-8")) } ==
      Seq(0 -> Some("<a x>"), 1 -> None, 2 -> Some("<b>")))
    assert(rows("join").map(_._2.map(new String(_, "UTF-8"))) == Seq(Some("<a x>|<b>")))
    val resized = rows("resize")
    assert(resized.map(_._1) == Seq(1, 3) && resized.head._2.isEmpty,
      s"the NULL image must yield a NULL row: $resized")
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized(1)._2.get))
    assert(decoded.getWidth == 2 && decoded.getHeight == 2)
  }

  test("every other prepare failure still fails the stage") {
    def failure(block: BlockSpec): String = {
      val e = intercept[Exception] {
        BulkRunner.run(PipelineSpec("bulk-bad", "t", "d", Seq(block)), Map.empty,
          BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))(block.slug).collect()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" / ")
    }
    // a required input that is neither wired nor given is not a NULL row
    assert(failure(BlockSpec("wrap_text", "wrap", "no text at all",
      input = Map("prefix" -> PStr("<")))).contains("wrap: missing required input 'text'"))
    assert(failure(BlockSpec("image_blur", "blur", "a sigma past the bound",
      input = Map("image" -> PBytes("x".getBytes("UTF-8")), "sigma" -> PNum(1e9))))
      .contains("blur: sigma"))
  }

  /** Stub ffmpeg: copies -i input to the output path; expands a
    * segment%03d pattern to three numbered copies (audio_chunk shape). */
  private def stubFfmpeg(): java.nio.file.Path = {
    val stub = java.nio.file.Files.createTempFile("ffmpeg-stub", ".sh")
    java.nio.file.Files.writeString(stub,
      """#!/bin/bash
        |if [ "$1" == "-version" ]; then echo stub; exit 0; fi
        |prev=""; in=""; out=""
        |for a in "$@"; do
        |  if [ "$prev" == "-i" ]; then in="$a"; fi
        |  prev="$a"; out="$a"
        |done
        |case "$out" in
        |  *%03d*) for i in 0 1 2; do cp "$in" "${out/\%03d/00$i}"; done ;;
        |  *) cp "$in" "$out" ;;
        |esac
        |""".stripMargin)
    stub.toFile.setExecutable(true)
    stub
  }

  test("E13 in bulk: audio_chunk's N buffers become N rows, agreeing with the Runner") {
    val stub = stubFfmpeg()
    try {
      // "ID3" prefix passes the block's mp3 MIME gate
      val audio = "ID3-fake-mp3-payload"
      val chunkSpec = PipelineSpec("bulk-chunk", "t", "d", Seq(
        BlockSpec("upload_file", "src", "carry the audio",
          input = Map("file" -> PStr(audio))),
        BlockSpec("audio_chunk", "chunks", "split into segments",
          input = Map("duration" -> PStr("1s"),
            "ffmpeg_binary" -> PStr(stub.toString)),
          inputConfig = Some(InputConfig(property = Map(
            "audio" -> PropertyWiring("src")))))))

      val bulk = BulkRunner.run(chunkSpec, Map.empty,
        BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
      val bulkChunks = bulk("chunks").orderBy("idx").collect()
        .map(r => (r.getLong(0), new String(r.getAs[Array[Byte]]("value"), "UTF-8")))
      assert(bulkChunks.toSeq ==
        Seq((0, audio), (1, audio), (2, audio)),
        "each stub segment must be an independent contiguous-idx row")

      val runnerConf = Runner.RunConfig(spark, registry,
        new CheckpointStore(
          java.nio.file.Files.createTempDirectory("bulk-chunk-runner").toString),
        Clients.mockCtx().copy(ffmpegPath = Some(stub.toString)))
      val report = Runner.process(chunkSpec, Runner.StartInput(), runnerConf)
      assert(report.status == Runner.Completed)
      val runnerChunks = report.outputs("chunks").toSeq.sortBy(_._1)
        .map { case (i, b) => (i, new String(b, "UTF-8")) }
      assert(runnerChunks == bulkChunks.toSeq,
        "bulk E13 explode must agree with the control-plane Runner")
    } finally java.nio.file.Files.delete(stub)
  }

  test("a BIGINT idx past 2^31 flows through fan-out, explode and fan-in stages") {
    val wide = Seq(1L << 31, 1L << 40)
    val initial = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(wide(0), "a".getBytes("UTF-8")),
        org.apache.spark.sql.Row(wide(1), "b".getBytes("UTF-8"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.BinaryType))))
    val wideSpec = PipelineSpec("bulk-wide-idx", "t", "d", Seq(
      BlockSpec("wrap_text", "wrap", "fan-out keeps the wide idx",
        input = Map("prefix" -> PStr("<"), "suffix" -> PStr(">")),
        inputConfig = Some(InputConfig(isArray = true, property = Map(
          "text" -> PropertyWiring("src"))))),
      BlockSpec("text_replace", "replace", "outputs explode to fresh rows",
        input = Map("old" -> PStr("<"), "new" -> PStr("(")),
        inputConfig = Some(InputConfig(property = Map(
          "text" -> PropertyWiring("wrap"))))),
      BlockSpec("join_strings", "join", "fan-in ordered by the wide idx",
        input = Map("separator" -> PStr("|")),
        inputConfig = Some(InputConfig(property = Map(
          "strings" -> PropertyWiring("wrap", arrayInput = true)))))))
    val out = BulkRunner.run(wideSpec, Map("src" -> initial),
      BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
    def rows(slug: String) = out(slug).orderBy("idx").collect().toSeq
      .map(r => r.getLong(0) -> new String(r.getAs[Array[Byte]]("value"), "UTF-8"))

    Seq("wrap", "replace", "join").foreach { slug =>
      assert(out(slug).schema("idx").dataType == org.apache.spark.sql.types.LongType,
        s"$slug: ${out(slug).schema}")
    }
    assert(rows("wrap") == Seq(wide(0) -> "<a>", wide(1) -> "<b>"))
    assert(rows("replace") == Seq(0L -> "(a>", 1L -> "(b>"))
    assert(rows("join") == Seq(0L -> "<a>|<b>"))
  }

  test("TArr fan-in reaches the generic path with bytes intact (join_videos)") {
    // single-video short-circuit: output must be the input BYTES —
    // non-UTF8, so any string round-trip of the array elements corrupts
    val img = new java.awt.image.BufferedImage(
      3, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val payload = baos.toByteArray
    val initial = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(0, payload)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.BinaryType))))
    val joinSpec = PipelineSpec("bulk-join-one", "t", "d", Seq(
      BlockSpec("join_videos", "join", "single-video short-circuit",
        inputConfig = Some(InputConfig(property = Map(
          "videos" -> PropertyWiring("src", arrayInput = true)))))))
    val out = BulkRunner.run(joinSpec, Map("src" -> initial),
      BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
    val got = out("join").collect()(0).getAs[Array[Byte]]("value")
    assert(got.toSeq == payload.toSeq,
      "array<binary> fan-in must not round-trip through strings")

    // 3-video concat through the stub: the list file (stub "output")
    // must reference all three fan-in elements, in order
    val stub = stubFfmpeg()
    try {
      val three = spark.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row(0, "vid-a".getBytes("UTF-8")),
          org.apache.spark.sql.Row(1, "vid-b".getBytes("UTF-8")),
          org.apache.spark.sql.Row(2, "vid-c".getBytes("UTF-8"))),
        initial.schema)
      val concatSpec = PipelineSpec("bulk-join-three", "t", "d", Seq(
        BlockSpec("join_videos", "join", "3-way concat via stub",
          input = Map("ffmpeg_binary" -> PStr(stub.toString)),
          inputConfig = Some(InputConfig(property = Map(
            "videos" -> PropertyWiring("src", arrayInput = true)))))))
      val joined = BulkRunner.run(concatSpec, Map("src" -> three),
        BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
      val listTxt = new String(
        joined("join").collect()(0).getAs[Array[Byte]]("value"), "UTF-8")
      val order = Seq("in_0.mp4", "in_1.mp4", "in_2.mp4").map(listTxt.indexOf)
      assert(order.forall(_ >= 0) && order == order.sorted,
        s"concat list must name all three inputs in order: $listTxt")
    } finally java.nio.file.Files.delete(stub)
  }

  test("a 50k-row stage runs distributed with parquet checkpoints") {
    val n = 50000
    val initial = spark.range(n).select(
      col("id").cast("int").as("idx"),
      concat(lit("doc-"), col("id")).cast("binary").as("value"))
    val wideSpec = PipelineSpec("bulk-wide", "t", "d", Seq(
      BlockSpec("wrap_text", "wrap", "wrap every row of the big stage",
        input = Map("prefix" -> PStr("<"), "suffix" -> PStr(">")),
        inputConfig = Some(InputConfig(isArray = true, property = Map(
          "text" -> PropertyWiring("src")))))))
    val root = java.nio.file.Files.createTempDirectory("bulk-ckpt").toString
    val out = BulkRunner.run(wideSpec, Map("src" -> initial),
      BulkRunner.BulkConfig(spark, registry, Clients.mockCtx(),
        checkpointDir = Some(root)))
    assert(out("wrap").count() == n)
    val sample = out("wrap").where(col("idx") === 12345).collect()(0)
    assert(new String(sample.getAs[Array[Byte]]("value"), "UTF-8") == "<doc-12345>")
    // checkpoint is a real parquet stage dir, reloadable (E12 at scale)
    val reloaded = spark.read.parquet(s"$root/bulk-wide/wrap")
    assert(reloaded.count() == n)
    // and the plan is a distributed select, not a driver loop
    assert(out("wrap").queryExecution.executedPlan.toString.contains("FileScan parquet"))
  }

  test("a partially checkpointed run resumes without recomputing upstream") {
    val root = java.nio.file.Files.createTempDirectory("bulk-resume").toString
    val conf = BulkRunner.BulkConfig(spark, registry, Clients.mockCtx(),
      checkpointDir = Some(root))

    // the "killed" run: only the first two stages got checkpointed
    val partial = PipelineSpec(spec.slug, spec.title, spec.description,
      spec.blocks.take(2))
    BulkRunner.run(partial, Map.empty, conf)
    val upstream = Seq("tr", "per-seg").map { slug =>
      val p = java.nio.file.Paths.get(root, spec.slug, slug, "_SUCCESS")
      assert(java.nio.file.Files.exists(p), s"stage $slug must be checkpointed")
      slug -> java.nio.file.Files.getLastModifiedTime(p)
    }

    // resume the FULL spec: finished stages hydrate from parquet, the
    // remaining two execute, and the final bytes match an uninterrupted run
    val resumed = BulkRunner.run(spec, Map.empty, conf.copy(resume = true))
    val resumedJoin = new String(
      resumed("join").collect()(0).getAs[Array[Byte]]("value"), "UTF-8")
    assert(resumedJoin == "{alpha]|{beta]|{gamma]")
    upstream.foreach { case (slug, t0) =>
      val p = java.nio.file.Paths.get(root, spec.slug, slug, "_SUCCESS")
      assert(java.nio.file.Files.getLastModifiedTime(p) == t0,
        s"stage $slug must not be recomputed or rewritten on resume")
    }
  }

  test("resume after a spec edit recomputes the edited stage and downstream") {
    val root = java.nio.file.Files.createTempDirectory("bulk-stale").toString
    val conf = BulkRunner.BulkConfig(spark, registry, Clients.mockCtx(),
      checkpointDir = Some(root))
    // full run: all four stages checkpointed under the ORIGINAL spec
    BulkRunner.run(spec, Map.empty, conf)
    val trSuccess = java.nio.file.Paths.get(root, spec.slug, "tr", "_SUCCESS")
    val t0 = java.nio.file.Files.getLastModifiedTime(trSuccess)

    // edit stage 2's literal (wrap suffix "]" → ")") and resume: stage 1
    // hydrates, stages 2-4 recompute off the NEW spec — a stale-manifest
    // miss must not silently reuse the old parquet
    val edited = spec.copy(blocks = spec.blocks.map {
      case b if b.slug == "per-seg" =>
        b.copy(input = b.input.updated("suffix", PStr(")")))
      case b => b
    })
    val resumed = BulkRunner.run(edited, Map.empty, conf.copy(resume = true))
    val resumedJoin = new String(
      resumed("join").collect()(0).getAs[Array[Byte]]("value"), "UTF-8")
    // fresh run of the edited spec in a clean dir = ground truth
    val fresh = BulkRunner.run(edited, Map.empty,
      BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
    val freshJoin = new String(
      fresh("join").collect()(0).getAs[Array[Byte]]("value"), "UTF-8")
    assert(resumedJoin == freshJoin && resumedJoin == "{alpha)|{beta)|{gamma)",
      s"stale checkpoints must be recomputed: resumed=$resumedJoin fresh=$freshJoin")
    assert(java.nio.file.Files.getLastModifiedTime(trSuccess) == t0,
      "the unedited upstream stage must still hydrate, not recompute")

    // the recomputed checkpoints now carry the edited fingerprints: a
    // second resume with the same edited spec hydrates everything
    val joinSuccess = java.nio.file.Paths.get(root, spec.slug, "join", "_SUCCESS")
    val tj = java.nio.file.Files.getLastModifiedTime(joinSuccess)
    val again = BulkRunner.run(edited, Map.empty, conf.copy(resume = true))
    assert(new String(again("join").collect()(0)
      .getAs[Array[Byte]]("value"), "UTF-8") == freshJoin)
    assert(java.nio.file.Files.getLastModifiedTime(joinSuccess) == tj,
      "an up-to-date checkpoint must hydrate on the second resume")
  }

  test("a checkpoint without a manifest (pre-manifest or torn write) recomputes") {
    val root = java.nio.file.Files.createTempDirectory("bulk-nomanifest").toString
    val conf = BulkRunner.BulkConfig(spark, registry, Clients.mockCtx(),
      checkpointDir = Some(root))
    BulkRunner.run(spec, Map.empty, conf)
    val manifest = java.nio.file.Paths.get(root, spec.slug, "per-seg", "_graft_manifest")
    assert(java.nio.file.Files.exists(manifest), "checkpoint must carry a manifest")
    java.nio.file.Files.delete(manifest)
    val resumed = BulkRunner.run(spec, Map.empty, conf.copy(resume = true))
    assert(new String(resumed("join").collect()(0)
      .getAs[Array[Byte]]("value"), "UTF-8") == "{alpha]|{beta]|{gamma]")
    assert(java.nio.file.Files.exists(manifest),
      "the recompute must rewrite the missing manifest")
  }
}
