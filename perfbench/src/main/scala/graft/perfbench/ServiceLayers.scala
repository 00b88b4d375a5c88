package graft.perfbench

import graft.pipeline._
import ServiceMix.Outcome

/** Per-layer metrics of `service_mix`, derived from the spans of a
  * traced run and the run ledgers the processing route served. */
object ServiceLayers {
  val blockIds = Seq("openai_chat_completion", "text_replace", "wrap_text",
    "join_strings", "format_string_from_object", "upload_file", "image_resize",
    "image_blur", "image_add_text")

  private val checkpointNames =
    Set("checkpoint.save_output", "checkpoint.load_output", "checkpoint.save_document")

  /** Block spans of one run, from its ledger's start and finish stamps
    * (one span per block slug over all its fan-out rows). */
  def blockSpans(o: Outcome, slugToId: Map[String, String]): Seq[(String, Double, Double)] =
    Checks.field(o.doc, "ledger") match {
      case PArr(es) =>
        es.groupBy(e => Checks.field(e, "block").asString).toSeq.flatMap { case (slug, rows) =>
          def stamp(k: String) = rows.map(e => Checks.field(e, k).asDouble)
          slugToId.get(slug).map(id => (id, stamp("started_ms").min, stamp("finished_ms").max))
        }
      case _ => Nil
    }

  /** Run span decomposition: (checkpoint, block, self) milliseconds,
    * which add up to the run span by construction. */
  def decompose(run: Span, ckpt: Seq[Span], blocks: Seq[(String, Double, Double)]): (Double, Double, Double) = {
    val c = ckpt.map(s => (s.startMs, s.endMs))
    val cMs = Stats.covered(c, run.startMs, run.endMs)
    val all = Stats.covered(c ++ blocks.map(b => (b._2, b._3)), run.startMs, run.endMs)
    (cMs, all - cMs, run.ms - all)
  }

  def derive(spans: Seq[Span], runs: Seq[Outcome], specs: Seq[PipelineSpec],
      non2xx: Int): Map[String, Double] = {
    val slugToId = specs.flatMap(_.blocks.map(b => b.slug -> b.id)).toMap
    val byName = spans.groupBy(_.name).withDefaultValue(Nil)
    val ckptByRun = spans.filter(s => checkpointNames(s.name)).groupBy(_.parent)
    val runSpans = byName("runner.run").filter(r => ckptByRun.contains(r.id))

    // Match each completed run the client saw with its run span: same
    // processing id, and the span covers the ledger's first stamp.
    val matched = runs.flatMap { o =>
      val blocks = blockSpans(o, slugToId)
      val first = if (blocks.isEmpty) Double.NaN else blocks.map(_._2).min
      runSpans.find { r =>
        ckptByRun(r.id).exists(_.requestId == o.pid) &&
          r.startMs - 2 <= first && first <= r.endMs + 2
      }.map(r => (o, r, blocks))
    }
    val n = math.max(matched.size, 1).toDouble
    val parts = matched.map { case (_, r, blocks) => decompose(r, ckptByRun(r.id), blocks) }
    val ckptSpans = matched.flatMap { case (_, r, _) => ckptByRun(r.id) }
    def ckptMs(name: String) = ckptSpans.filter(_.name == name).map(_.ms)
    val resumes = matched.filter(_._1.kind == "resume")
    val starts = byName("api.start").map(_.ms)
    val polls = byName("api.poll").map(_.ms)
    val jobs = byName("spark.job")

    val blockMs = matched.flatMap(_._3).groupBy(_._1).map { case (id, bs) =>
      id -> bs.map(b => b._3 - b._2)
    }.withDefaultValue(Nil)

    Map(
      "api.start_rtt_ms_p50" -> Stats.median(starts),
      "api.start_rtt_ms_p90" -> Stats.quantile(starts, 0.9),
      "api.poll_rtt_ms_p50" -> Stats.median(polls),
      "api.poll_rtt_ms_p90" -> Stats.quantile(polls, 0.9),
      "api.polls_per_run" -> runs.map(_.polls).sum / math.max(runs.size, 1).toDouble,
      "api.non2xx" -> non2xx.toDouble,
      "runner.run_ms_p50" -> Stats.median(matched.map(_._2.ms)),
      "runner.queue_wait_ms_p50" ->
        Stats.median(matched.map { case (_, r, _) => r.startMs - r.attr("queued_ms") }),
      "runner.self_ms_p50" -> Stats.median(parts.map(_._3)),
      "runner.block_ms_p50" -> Stats.median(parts.map(_._2)),
      "checkpoint.save_output_ms_p50" -> Stats.median(ckptMs("checkpoint.save_output")),
      "checkpoint.ms_per_run" -> parts.map(_._1).sum / n,
      "checkpoint.share" -> parts.map(_._1).sum / math.max(matched.map(_._2.ms).sum, 1e-9),
      "checkpoint.files_per_run" -> ckptSpans.map(_.attr("files")).sum / n,
      "checkpoint.bytes_per_run" -> ckptSpans.map(_.attr("bytes")).sum / n,
      "checkpoint.load_output_ms_per_resume" ->
        resumes.flatMap { case (_, r, _) => ckptByRun(r.id) }
          .filter(_.name == "checkpoint.load_output").map(_.ms).sum / math.max(resumes.size, 1),
      "checkpoint.save_document_ms_per_run" -> ckptMs("checkpoint.save_document").sum / n,
      "checkpoint.root_failures" -> ckptSpans.map(_.attr("failures")).sum,
      "spark.jobs_per_run" -> jobs.size / n,
      "spark.tasks_per_run" -> byName("spark.task").size / n,
      "spark.job_ms_per_run" -> jobs.map(_.ms).sum / n,
      "runner.matched_runs" -> matched.size.toDouble,
    ) ++ blockIds.map(id => s"block.$id.ms_p50" -> Stats.median(blockMs(id)))
  }
}
