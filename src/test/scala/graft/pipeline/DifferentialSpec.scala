package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Differential testing: the two executors must agree on randomized
  * pure-compute specs, and the JsonPathExtract expression must agree
  * with Spark's built-in get_json_object on scalar paths. */
class DifferentialSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val registry = BlockRegistry.standard()

  test("Runner and BulkRunner agree on 20 randomized text pipelines") {
    val rnd = new Random(42)
    def word() = Random.alphanumeric.take(rnd.nextInt(5) + 1).mkString
    (0 until 20).foreach { i =>
      val nSegs = rnd.nextInt(4) + 1
      val segs = Seq.fill(nSegs)(s"${word()} ${word()} ${word()}")
      val transcription =
        s"""{"segments":[${segs.map(s => s"""{"text":"$s"}""").mkString(",")}]}"""
      val old = segs.head.split(" ")(rnd.nextInt(3))
      val spec = PipelineSpec(s"fuzz-$i", "t", "d", Seq(
        BlockSpec("upload_file", "src", "carry the random transcription json",
          input = Map("file" -> PStr(transcription))),
        BlockSpec("wrap_text", "wrap", "wrap each random segment",
          input = Map("prefix" -> PStr(word()), "suffix" -> PStr(word())),
          inputConfig = Some(InputConfig(isArray = true, property = Map(
            "text" -> PropertyWiring("src", Some("$.segments[*].text")))))),
        BlockSpec("text_replace", "repl", "replace one random token",
          input = Map("old" -> PStr(old), "new" -> PStr(word())),
          inputConfig = Some(InputConfig(isArray = true, property = Map(
            "text" -> PropertyWiring("wrap"))))),
        BlockSpec("join_strings", "join", "join the replaced segments",
          input = Map("separator" -> PStr("|")),
          inputConfig = Some(InputConfig(property = Map(
            "strings" -> PropertyWiring("repl", arrayInput = true)))))))

      val ctrl = Runner.process(spec, Runner.StartInput(),
        Runner.RunConfig(spark, registry,
          new CheckpointStore(java.nio.file.Files
            .createTempDirectory("fuzz").toString), Clients.mockCtx()))
      assert(ctrl.status == Runner.Completed, s"spec $i: ${ctrl.status}")
      val ctrlJoin = new String(ctrl.outputs("join").head._2, "UTF-8")

      val bulk = BulkRunner.run(spec, Map.empty,
        BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
      val bulkJoin = new String(
        bulk("join").collect()(0).getAs[Array[Byte]]("value"), "UTF-8")
      assert(bulkJoin == ctrlJoin, s"executor divergence on spec $i")
    }
  }

  test("executors agree on a misaligned two-origin zip (inherit rule)") {
    // a 4-way text fan-out zipped with a 2-way mark fan-out: positions
    // past the shorter stream inherit its last value (MergeMaps
    // block.go:404-500) — both executors must produce the same rows
    val texts =
      """{"segments":[{"text":"aa x"},{"text":"bb x"},{"text":"cc x"},{"text":"dd x"}]}"""
    val marks = """{"marks":[{"m":"aa"},{"m":"bb"}]}"""
    val spec = PipelineSpec("misaligned", "t", "d", Seq(
      BlockSpec("upload_file", "src", "carry the four-segment transcription",
        input = Map("file" -> PStr(texts))),
      BlockSpec("upload_file", "src2", "carry the two-mark json document",
        input = Map("file" -> PStr(marks))),
      BlockSpec("text_replace", "repl", "replace the wired mark per segment",
        input = Map("new" -> PStr("ZZ")),
        inputConfig = Some(InputConfig(isArray = true, property =
          scala.collection.immutable.ListMap(
            "text" -> PropertyWiring("src", Some("$.segments[*].text")),
            "old" -> PropertyWiring("src2", Some("$.marks[*].m")))))),
      BlockSpec("join_strings", "join", "join the replaced segments",
        input = Map("separator" -> PStr("|")),
        inputConfig = Some(InputConfig(property = Map(
          "strings" -> PropertyWiring("repl", arrayInput = true)))))))

    val ctrl = Runner.process(spec, Runner.StartInput(),
      Runner.RunConfig(spark, registry,
        new CheckpointStore(java.nio.file.Files
          .createTempDirectory("misaligned").toString), Clients.mockCtx()))
    assert(ctrl.status == Runner.Completed, ctrl.status.toString)
    val ctrlJoin = new String(ctrl.outputs("join").head._2, "UTF-8")

    val bulk = BulkRunner.run(spec, Map.empty,
      BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
    val bulkJoin = new String(
      bulk("join").collect()(0).getAs[Array[Byte]]("value"), "UTF-8")
    assert(bulkJoin == ctrlJoin, s"divergence: bulk=$bulkJoin ctrl=$ctrlJoin")
    // rows 2-3 inherited mark "bb", which only matches row 1's text
    assert(ctrlJoin == "ZZ x|ZZ x|cc x|dd x", ctrlJoin)
  }

  /** The PNG byte-safety test and the 20-pipeline loop above are point
    * samples; this is the property: over ≥100 seeded-random specs —
    * text chains with star fan-out, misaligned two-origin zips,
    * fan-in joins, non-UTF8 binary literal chains, literal-array joins
    * and templates over a wired key outside the schema — the
    * control-plane Runner and the data-plane BulkRunner produce
    * byte-identical output at EVERY stage. */
  test("property: executors agree byte-for-byte on 100 randomized specs") {
    import org.scalacheck.{Gen, Prop, Test => SCT}

    val genWord: Gen[String] = for {
      n <- Gen.choose(1, 6)
      cs <- Gen.listOfN(n, Gen.frequency(
        10 -> Gen.alphaNumChar,
        1 -> Gen.oneOf('ü', 'é', 'π', '→'),
        1 -> Gen.oneOf('.', ',', '!', '-', '_', '|', '{', '}', '[', ']', '"', '\\')))
    } yield cs.mkString
    val genText: Gen[String] = for {
      k <- Gen.choose(1, 4); ws <- Gen.listOfN(k, genWord)
    } yield ws.mkString(" ")

    def doc(field: String, items: Seq[String], key: String): String =
      Json.render(PObj(Map(field ->
        PArr(items.map(t => PObj(Map(key -> PStr(t))))))))

    // family 1: src → star fan-out wrap → 0-2 chained text ops → maybe join
    val genTextChain: Gen[PipelineSpec] = for {
      texts <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genText))
      pre <- genWord; suf <- genWord
      nMid <- Gen.choose(0, 2)
      midKinds <- Gen.listOfN(nMid, Gen.oneOf("replace", "wrap"))
      // replace targets a word actually present half the time
      old <- Gen.oneOf(genWord,
        Gen.oneOf(texts.flatMap(_.split(" ")).filter(_.nonEmpty) :+ "x"))
      nw <- genWord; sep <- genWord
      join <- Gen.oneOf(true, false)
    } yield {
      val src = BlockSpec("upload_file", "src", "carry the fuzz transcription",
        input = Map("file" -> PStr(doc("segments", texts, "text"))))
      val fan = BlockSpec("wrap_text", "fan", "wrap each fuzz segment",
        input = Map("prefix" -> PStr(pre), "suffix" -> PStr(suf)),
        inputConfig = Some(InputConfig(isArray = true, property = Map(
          "text" -> PropertyWiring("src", Some("$.segments[*].text"))))))
      val mids = midKinds.zipWithIndex.map { case (kind, i) =>
        val prev = if (i == 0) "fan" else s"mid$i"
        if (kind == "replace")
          BlockSpec("text_replace", s"mid${i + 1}", "replace a fuzz token",
            input = Map("old" -> PStr(old), "new" -> PStr(nw)),
            inputConfig = Some(InputConfig(isArray = true, property = Map(
              "text" -> PropertyWiring(prev)))))
        else
          BlockSpec("wrap_text", s"mid${i + 1}", "wrap the fuzz row again",
            input = Map("prefix" -> PStr(nw)),
            inputConfig = Some(InputConfig(isArray = true, property = Map(
              "text" -> PropertyWiring(prev)))))
      }
      val last = if (mids.isEmpty) "fan" else mids.last.slug
      val tail = if (join) Seq(BlockSpec("join_strings", "join",
        "join the fuzz segments", input = Map("separator" -> PStr(sep)),
        inputConfig = Some(InputConfig(property = Map(
          "strings" -> PropertyWiring(last, arrayInput = true)))))) else Nil
      PipelineSpec("fuzz-text", "t", "d", Seq(src, fan) ++ mids ++ tail)
    }

    // family 2: misaligned two-origin zip (inherit rule) + fan-in
    val genZip: Gen[PipelineSpec] = for {
      texts <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genText))
      marks <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genWord))
      nw <- genWord; sep <- genWord
    } yield PipelineSpec("fuzz-zip", "t", "d", Seq(
      BlockSpec("upload_file", "src", "carry the fuzz segments",
        input = Map("file" -> PStr(doc("segments", texts, "text")))),
      BlockSpec("upload_file", "src2", "carry the fuzz marks",
        input = Map("file" -> PStr(doc("marks", marks, "m")))),
      BlockSpec("text_replace", "repl", "replace the zipped mark",
        input = Map("new" -> PStr(nw)),
        inputConfig = Some(InputConfig(isArray = true, property =
          scala.collection.immutable.ListMap(
            "text" -> PropertyWiring("src", Some("$.segments[*].text")),
            "old" -> PropertyWiring("src2", Some("$.marks[*].m")))))),
      BlockSpec("join_strings", "join", "join the zipped rows",
        input = Map("separator" -> PStr(sep)),
        inputConfig = Some(InputConfig(property = Map(
          "strings" -> PropertyWiring("repl", arrayInput = true)))))))

    // family 3: non-UTF8 binary literal through an identity chain — any
    // string round-trip of the payload corrupts it in exactly one executor
    val genBinary: Gen[PipelineSpec] = for {
      n <- Gen.choose(1, 64)
      bytes <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
      depth <- Gen.choose(1, 2)
    } yield PipelineSpec("fuzz-bin", "t", "d",
      BlockSpec("upload_file", "b0", "carry the fuzz binary payload",
        input = Map("file" -> PBytes(bytes.toArray))) +:
        (1 to depth).map(i => BlockSpec("upload_file", s"b$i",
          "identity over the wired binary stage",
          inputConfig = Some(InputConfig(property = Map(
            "file" -> PropertyWiring(s"b${i - 1}")))))))

    // family 4: join_strings over a literal array (no wiring at all)
    val genLiteralJoin: Gen[PipelineSpec] = for {
      words <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genWord))
      sep <- genWord
    } yield PipelineSpec("fuzz-lit-join", "t", "d", Seq(
      BlockSpec("join_strings", "join", "join the literal fuzz words",
        input = Map("strings" -> PArr(words.map(PStr)), "separator" -> PStr(sep)))))

    // family 5: format_string_from_object over a wired key that is not
    // in its schema (the template reads it from the whole input map)
    val genFormat: Gen[PipelineSpec] = for {
      body <- genText
      pre <- Gen.alphaNumStr; suf <- Gen.alphaNumStr
    } yield PipelineSpec("fuzz-format", "t", "d", Seq(
      BlockSpec("upload_file", "src", "carry the fuzz body text",
        input = Map("file" -> PStr(body))),
      BlockSpec("format_string_from_object", "format", "format the wired body",
        input = Map("template" -> PStr(s"$pre{body}$suf")),
        inputConfig = Some(InputConfig(property = Map(
          "body" -> PropertyWiring("src")))))))

    val genSpec: Gen[PipelineSpec] = Gen.frequency(5 -> genTextChain,
      3 -> genZip, 2 -> genBinary, 1 -> genLiteralJoin, 1 -> genFormat)

    def agree(spec: PipelineSpec): Prop = {
      val ctrl = Runner.process(spec, Runner.StartInput(),
        Runner.RunConfig(spark, registry,
          new CheckpointStore(java.nio.file.Files
            .createTempDirectory("fuzz-prop").toString), Clients.mockCtx()))
      if (ctrl.status != Runner.Completed)
        Prop.falsified :| s"runner did not complete: ${ctrl.status}"
      else {
        val bulk = BulkRunner.run(spec, Map.empty,
          BulkRunner.BulkConfig(spark, registry, Clients.mockCtx()))
        val bad = spec.blocks.flatMap { b =>
          val r = ctrl.outputs.getOrElse(b.slug, Nil).sortBy(_._1)
            .map { case (i, v) => (i, v.toSeq) }
          val s = bulk(b.slug).orderBy("idx").collect().toSeq
            .map(row => (row.getLong(0),
              Option(row.getAs[Array[Byte]]("value"))
                .getOrElse(Array.empty[Byte]).toSeq))
          if (r == s) None
          else Some(s"stage ${b.slug}: runner=$r bulk=$s")
        }
        Prop(bad.isEmpty) :| bad.mkString("; ")
      }
    }

    val params = SCT.Parameters.default
      .withMinSuccessfulTests(100)
      .withInitialSeed(org.scalacheck.rng.Seed(20260812L))
    val result = SCT.check(params, Prop.forAllNoShrink(genSpec)(agree))
    assert(result.passed, s"differential property failed: ${result.status}")
  }

  test("JsonPathExtract agrees with get_json_object on scalar paths") {
    val dir = SparkTestSession.sf
    val events = graft.Tables.t(spark, dir, "events")
    val both = events.select(
      element_at(JsonPathExtract.json_path_extract(col("props"), "$.k"), 1).as("mine"),
      get_json_object(col("props"), "$.k").as("builtin"))
    assert(both.where(col("mine") =!= col("builtin") ||
      col("mine").isNull =!= col("builtin").isNull).count() == 0)
  }
}
