package graft.perfbench

import graft.pipeline._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Each output check of the benchmark must catch the fault it exists
  * for; a check that passes everything would let a broken program
  * report a speed-up. */
class ChecksSpec extends AnyFunSuite {

  test("fingerprint ignores row order and catches a perturbed value") {
    val rows = Seq(Seq[Any](1L, 2L, 0.5), Seq[Any](3L, 4L, 0.75))
    val fp = Checks.fingerprint(rows)
    assert(Checks.fingerprint(rows.reverse) == fp)
    assert(Checks.fingerprint(Seq(Seq[Any](1L, 2L, 0.5), Seq[Any](3L, 5L, 0.75))) != fp)
    assert(Checks.fingerprint(Seq(Seq[Any](1L, 2L, 0.5), Seq[Any](3L, 4L, 0.7501))) != fp)
    assert(Checks.fingerprint(rows.take(1)) != fp)
  }

  private def store() =
    new CheckpointStore(java.nio.file.Files.createTempDirectory("perfbench-checks").toString)

  private def doc(logId: String, blocks: Seq[String], completed: Boolean = true): PValue =
    PObj(Map(
      "status" -> PObj(Map("is_completed" -> PBool(completed), "log_id" -> PStr(logId))),
      "ledger" -> PArr(blocks.map(b => PObj(Map("block" -> PStr(b))))),
      "log_ids" -> PArr(Seq(PStr(logId)))))

  private def outcome(kind: String, pid: String, prompt: String, d: PValue) =
    ServiceMix.Outcome(kind, pid, prompt, 0.0, 1.0,
      completed = true, "", d, polls = 1, non2xx = 0)

  test("a wrong text output is reported, the expected one passes") {
    val s = store()
    val prompt = "plan: alpha beta gamma"
    val good = Checks.Responder.expectedText(prompt)
    s.saveOutput("bench-text", "p1", "format", Seq(0 -> good.getBytes("UTF-8")))
    s.saveOutput("bench-text", "p2", "format", Seq(0 -> (good + "!").getBytes("UTF-8")))
    val d = doc("log_1", ServiceMix.textBlocks)
    assert(ServiceMix.verify(outcome("text", "p1", prompt, d), s).isEmpty)
    assert(ServiceMix.verify(outcome("text", "p2", prompt, d), s).exists(_.contains("output")))
  }

  test("the expected text is what the pipeline's blocks make of the responses") {
    val prompt = "plan: x y z"
    val topics = Checks.Responder.topics(prompt)
    assert(topics.distinct.size == Checks.Responder.topicsPerPlan)
    val want = Checks.Responder.expectedText(prompt)
    assert(want.startsWith("report: [about " + topics.head))
    assert(!want.contains(Checks.Responder.marker) && want.contains("<mark>"))
    assert(want.split(" \\| ").length == topics.size)
  }

  test("an image output that is not a PNG of the requested size is reported") {
    val s = store()
    val d = doc("log_1", Seq("upload", "resize", "blur", "caption"))
    def png(side: Int) = {
      val img = new java.awt.image.BufferedImage(side, side, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    s.saveOutput("bench-image", "ok", "caption", Seq(0 -> png(ServiceMix.resized)))
    s.saveOutput("bench-image", "small", "caption", Seq(0 -> png(64)))
    s.saveOutput("bench-image", "text", "caption", Seq(0 -> "not an image".getBytes("UTF-8")))
    assert(ServiceMix.verify(outcome("image", "ok", "", d), s).isEmpty)
    assert(ServiceMix.verify(outcome("image", "small", "", d), s).isDefined)
    assert(ServiceMix.verify(outcome("image", "text", "", d), s).isDefined)
  }

  test("a resume is not finished at its stale status document") {
    val stale = doc("log_100", ServiceMix.textBlocks)
    val before = Checks.logIds(stale)
    assert(Checks.ownStatus(stale, before).isEmpty)
    val fresh = doc("log_200", ServiceMix.resumeBlocks)
    assert(Checks.ownStatus(fresh, before).isDefined)
    // no status document yet: still running
    assert(Checks.ownStatus(PObj(Map("status" -> PNull)), Set.empty).isEmpty)
  }

  test("a resume verified from its stale status document is reported") {
    val s = store()
    val prompt = "plan: one two three"
    s.saveOutput("bench-text", "p", "format",
      Seq(0 -> Checks.Responder.expectedText(prompt).getBytes("UTF-8")))
    val stale = doc("log_100", ServiceMix.textBlocks)
    val fresh = doc("log_200", ServiceMix.resumeBlocks)
    assert(ServiceMix.verify(outcome("resume", "p", prompt, stale), s).exists(_.contains("ledger")))
    assert(ServiceMix.verify(outcome("resume", "p", prompt, fresh), s).isEmpty)
  }

  test("a run that did not complete is reported") {
    val o = outcome("text", "p", "plan: a", PNull).copy(completed = false, error = "timed out")
    assert(ServiceMix.verify(o, store()).exists(_.contains("timed out")))
  }

  private lazy val ref = new Corpus.Reference(Corpus.generate(7L, 400))

  test("the corpus is a function of its seed and plants duplicates") {
    val a = Corpus.generate(7L, 400)
    assert(a == Corpus.generate(7L, 400))
    assert(a != Corpus.generate(8L, 400))
    assert(a.exactPairs.nonEmpty && a.nearPairs.nonEmpty)
  }

  test("reference Jaccard pairs equal a brute-force all-pairs scan") {
    val n = ref.corpus.texts.size
    val brute = (for (a <- 0 until n; b <- a + 1 until n
      if ref.jaccardOf(a, b) >= 0.5) yield (a.toLong, b.toLong)).toSet
    assert(ref.ngramPairs.keySet == brute)
    // every planted exact pair shares a dd_exact group
    val group = ref.exactRows.map(r => r(0) -> r(1)).toMap
    assert(ref.corpus.exactPairs.forall { case (a, b) => group.get(a).exists(group.get(b).contains) })
  }

  test("dedup checks pass the exact answers and catch a dropped or perturbed row") {
    val sim = Map.empty[Long, Long]
    val exact = ref.exactRows.map(r => Row(r(0), r(1), r(2), s"fp${r(1)}")).toArray
    assert(DedupScaled.check("dd_exact", exact, ref, sim).isEmpty)
    assert(DedupScaled.check("dd_exact", exact.tail, ref, sim).nonEmpty)

    val ngram = ref.ngramPairs.toSeq.map { case ((a, b), j) =>
      Row(a, b, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toArray
    assert(DedupScaled.check("dd_ngram_jaccard", ngram, ref, sim).isEmpty)
    assert(DedupScaled.check("dd_ngram_jaccard", ngram.tail, ref, sim).nonEmpty)
    val off = ngram.updated(0, Row(ngram(0).getLong(0), ngram(0).getLong(1), ngram(0).getDouble(2) - 0.01))
    assert(DedupScaled.check("dd_ngram_jaccard", off, ref, sim).nonEmpty)

    val cluster = ref.clusterRows.map(r => Row(r: _*)).toArray
    assert(DedupScaled.check("dd_cluster", cluster, ref, sim).isEmpty)
    val relabelled = cluster.updated(0, Row(cluster(0).getLong(0), -1L, cluster(0).getLong(2)))
    assert(DedupScaled.check("dd_cluster", relabelled, ref, sim).nonEmpty)

    // an LSH pair that does not verify above the threshold
    assert(DedupScaled.check("dd_minhash_lsh", ngram, ref, sim).isEmpty)
    assert(DedupScaled.check("dd_minhash_lsh", Array(Row(0L, 1L, 0.9)), ref, sim).nonEmpty)
  }

  test("simhash pairs are re-verified from the signatures") {
    val sim = Map(1L -> 0L, 2L -> 0x3fL, 3L -> 0x7fL)
    assert(DedupScaled.check("dd_simhash", Array(Row(1L, 2L, 6)), ref, sim).isEmpty)
    assert(DedupScaled.check("dd_simhash", Array(Row(1L, 2L, 5)), ref, sim).nonEmpty)
    assert(DedupScaled.check("dd_simhash_wide", Array(Row(1L, 3L, 7)), ref, sim).nonEmpty)
  }

  test("run span decomposition adds up to the run span") {
    val run = Span(1, "runner.run", 0.0, 100.0, 0, "p", Map.empty)
    val ckpt = Seq(Span(2, "checkpoint.save_output", 10.0, 20.0, 1, "p", Map.empty),
      Span(3, "checkpoint.save_output", 60.0, 75.0, 1, "p", Map.empty))
    val blocks = Seq(("text_replace", 5.0, 12.0), ("wrap_text", 30.0, 55.0))
    val (c, b, self) = ServiceLayers.decompose(run, ckpt, blocks)
    assert(c == 25.0 && b == 30.0) // block time outside checkpoint spans
    assert(math.abs(c + b + self - run.ms) < 1e-9)
  }

  test("quantiles interpolate like Python's inclusive method") {
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
    assert(Stats.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0.0, 10.0) == 4.0)
  }
}
