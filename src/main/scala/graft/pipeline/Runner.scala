package graft.pipeline

import org.apache.spark.sql.SparkSession
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.ExecutionContext
import scala.util.Try

/** Pipeline execution engine: the reference's PipelineData.Process loop
  * (types/dataclasses/pipeline.go:146-640) re-expressed driver-side.
  *
  * Engine ops covered here (SURVEY §2.1): E6 input priority, E7
  * parallel/sequential fan-out, E8 conditional stop, E9 retry, E10
  * regeneration, E11-E13 checkpoint/resume/collapse, E14 run-ledger.
  * E1-E5 live in [[Wiring]].
  *
  * Every block runs in-process through `BlockOp.process`, one call per
  * fan-out row, like the reference's per-row processor calls over
  * driver-held output buffers (pipeline.go:607-627); no Spark job is
  * launched. The block's [[ExecMode]] only picks fan-out concurrency:
  *  - Distributed (pure compute) → rows run concurrently;
  *  - DriverSide (side effects) → ordered loop with early abort, or
  *    concurrently when `parallel: true` and the block allows it.
  * A concurrent fan-out runs on the calling thread plus helpers from
  * `ExecutionContext.global`, and never waits for a helper that has not
  * started: callers such as the service run whole requests on that
  * pool, so its workers may all be busy with other runs.
  * Data-scale fan-out runs on Spark through [[BulkRunner]] instead.
  */
object Runner {

  sealed trait RunStatus
  case object Completed extends RunStatus
  case object Stopped extends RunStatus
  case class StoppedForRegeneration(target: String, idx: Int) extends RunStatus
  case class Failed(error: String) extends RunStatus

  /** One ledger line (E14 — structured, replacing the reference's
    * log-text grepping, pipeline.go:868-914). */
  case class LedgerEntry(
      block: String, idx: Int, status: String, attempts: Int,
      startedMs: Long, finishedMs: Long, error: String = "")

  case class RunReport(
      processingId: String,
      status: RunStatus,
      outputs: Map[String, Seq[(Int, Array[Byte])]],
      ledger: Seq[LedgerEntry])

  /** The reference's PipelineStartInputSchema: start slug (empty =
    * first block), request input, regeneration target index. */
  case class StartInput(
      blockSlug: String = "",
      input: Map[String, PValue] = Map.empty,
      targetIndex: Int = -1,
      destinationSlug: String = "")

  case class RunConfig(
      spark: SparkSession,
      registry: BlockRegistry,
      checkpoint: CheckpointStore,
      ctx: BlockCtx)

  def newProcessingId(): String = java.util.UUID.randomUUID().toString

  private val processingIdRe =
    "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}".r

  /** A processing id names a storage directory, so the service accepts
    * only the UUID form [[newProcessingId]] issues (the reference lists
    * only processing UUID directories). */
  def isProcessingId(s: String): Boolean = processingIdRe.matches(s)

  /** Synchronous run. For the reference's async-start semantics wrap in
    * a Future and hand back the processingId immediately (§3.1 step 4). */
  def process(spec: PipelineSpec, start: StartInput, conf: RunConfig,
      processingId: String = newProcessingId()): RunReport = {
    val ledger = scala.collection.mutable.ArrayBuffer[LedgerEntry]()
    val report = runLoop(spec, start, conf, processingId, ledger, depth = 0)
    saveLedger(spec, conf, processingId, report, ledger.toSeq)
    report
  }

  /** Resume from a checkpointed processing at `fromSlug` (§3.2):
    * upstream outputs hydrate from storage. */
  def resume(spec: PipelineSpec, processingId: String, fromSlug: String,
      conf: RunConfig, targetIndex: Int = -1,
      input: Map[String, PValue] = Map.empty): RunReport =
    process(spec, StartInput(fromSlug, input, targetIndex), conf, processingId)

  // -------------------------------------------------------------------
  private def runLoop(spec: PipelineSpec, start: StartInput, conf: RunConfig,
      processingId: String, ledger: scala.collection.mutable.ArrayBuffer[LedgerEntry],
      depth: Int): RunReport = {

    val startIdx = if (start.blockSlug.isEmpty) 0 else spec.blockIndex(start.blockSlug)
    if (startIdx < 0)
      return RunReport(processingId, Failed(s"block ${start.blockSlug} not found"), Map.empty, ledger.toSeq)
    val destinationIdx =
      if (start.destinationSlug.isEmpty) -1 else spec.blockIndex(start.destinationSlug)

    val processed = spec.blocks.take(startIdx)
    val toProcess = spec.blocks.drop(startIdx)

    // E12: hydrate upstream outputs (+ current block when regenerating a
    // single index, pipeline.go:193-202).
    val outputs = scala.collection.mutable.LinkedHashMap[String, Seq[(Int, Array[Byte])]]()
    processed.foreach { b =>
      conf.checkpoint.loadOutput(spec.slug, processingId, b.slug)
        .foreach(rows => outputs(b.slug) = rows)
    }
    if (start.targetIndex >= 0)
      conf.checkpoint.loadOutput(spec.slug, processingId, start.blockSlug)
        .foreach(rows => outputs(start.blockSlug) = rows)

    // Resolved inputs per stage — the regeneration replay source
    // (blockInputsData, pipeline.go:469-476).
    val blockInputsData = scala.collection.mutable.Map[String, Seq[Map[String, PValue]]]()

    toProcess.zipWithIndex.foreach { case (blockSpec, relIdx) =>
      val blockIndex = startIdx + relIdx
      val op = conf.registry.get(blockSpec.id).getOrElse(
        return RunReport(processingId, Failed(s"unknown block id ${blockSpec.id}"), outputs.toMap, ledger.toSeq))

      val ic = blockSpec.inputConfig.getOrElse(InputConfig())

      // E1-E5: wired inputs from prior stage outputs.
      val wired: Seq[Map[String, PValue]] =
        if (blockSpec.inputConfig.isDefined) {
          // Request input on the restart block replaces its own stale
          // checkpointed output as a wiring source (pipeline.go:255-263).
          val sources: String => Option[Seq[Array[Byte]]] = slug =>
            if (relIdx == 0 && slug == blockSpec.slug && start.input.nonEmpty &&
                start.targetIndex < 0) None
            else outputs.get(slug).map(_.sortBy(_._1).map(_._2))
          Wiring.resolveWired(ic, op.propsByName, sources) match {
            case Left(err) =>
              ledger += LedgerEntry(blockSpec.slug, -1, "failed", 0,
                now(), now(), err)
              return RunReport(processingId, Failed(err), outputs.toMap, ledger.toSeq)
            case Right(rows) => Wiring.combine(ic, rows)
          }
        } else Nil

      // E6: request > wired > literal.
      val literal = if (blockSpec.input.nonEmpty) Some(blockSpec.input) else None
      val inputRows0 =
        if (relIdx == 0 && start.input.nonEmpty && start.targetIndex >= 0) {
          // Regeneration replay: the reference feeds the replayed row
          // through GetInputDataByPriority + MergeMaps, which SCRAMBLES
          // fan-out row order (the replay map merges into whichever row
          // it doesn't conflict with — a latent reference bug its mocked
          // tests can't observe). We pin the replay onto the target
          // index instead; all non-replay flows keep faithful priority
          // semantics.
          val base = Wiring.inputByPriority(None, wired, literal)
          base.zipWithIndex.map { case (row, i) =>
            if (i == start.targetIndex) row ++ start.input else row
          }
        } else {
          val request =
            if (relIdx == 0 && start.input.nonEmpty) Some(start.input) else None
          Wiring.inputByPriority(request, wired, literal)
        }
      val inputRows = if (inputRows0.isEmpty) Seq(Map.empty[String, PValue]) else inputRows0
      blockInputsData(blockSpec.slug) = inputRows

      if (!op.available(conf.ctx)) {
        val err = s"block ${blockSpec.slug} [${op.id}] unavailable " +
          "(reference would transfer to a peer worker — E15 dropped; Spark owns placement)"
        ledger += LedgerEntry(blockSpec.slug, -1, "transferred", 0, now(), now(), err)
        return RunReport(processingId, Failed(err), outputs.toMap, ledger.toSeq)
      }

      // TargetIndex skip (E10, pipeline.go:358-378): at the restart
      // block (and anything before an explicit destination) only the
      // target index recomputes; other indexes keep hydrated outputs.
      def skippable(idx: Int): Boolean =
        start.targetIndex >= 0 && idx != start.targetIndex &&
          (relIdx == 0 || (destinationIdx >= 0 && blockIndex < destinationIdx))

      // Schema validation + defaults per row (block.go:163-183).
      val prepared = scala.collection.mutable.ArrayBuffer[InputRow]()
      inputRows.zipWithIndex.foreach { case (m, idx) =>
        if (!skippable(idx)) op.prepare(m) match {
          case Left(err) =>
            ledger += LedgerEntry(blockSpec.slug, idx, "failed", 0, now(), now(), err)
            return RunReport(processingId,
              Failed(s"${blockSpec.slug}: $err"), outputs.toMap, ledger.toSeq)
          case Right(p) => prepared += InputRow(idx, p)
        }
      }

      // Execute. E7: pure blocks always fan out in parallel; side-effecting
      // ones only with `parallel: true` and the `parallel_available` gate.
      val t0 = now()
      val results = runRows(op, prepared.toSeq,
        parallel = op.mode == Distributed || (ic.parallel && op.parallelAvailable),
        conf.ctx.copy(processingId = processingId, blockSlug = blockSpec.slug))

      // Commit results in idx order: stop/error/regenerate handling +
      // E13 collapse + E11 checkpoint.
      val isArray = ic.isArray
      val sortedResults = results.sortBy(_._1)
      val newRows = scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]()
      // start from hydrated rows when regenerating (other indexes survive)
      outputs.get(blockSpec.slug).foreach(rows => newRows ++= rows)

      def upsert(idx: Int, bytes: Array[Byte]): Unit = {
        val at = newRows.indexWhere(_._1 == idx)
        if (at >= 0) newRows(at) = (idx, bytes) else newRows += ((idx, bytes))
      }

      // The reference saves every completed row's output immediately
      // (SaveOutput per row, pipeline.go:523-601); when a later row
      // stops the stage, earlier rows' outputs must survive for
      // resume/regeneration.
      def commitPartial(): Unit = {
        val rows = newRows.sortBy(_._1).toSeq
        outputs(blockSpec.slug) = rows
        // Per-root failures become ledger lines (the reference records a
        // SavedOutput error per storage); a store subclass that throws
        // outright is ledgered the same way.
        Try(conf.checkpoint.saveOutput(spec.slug, processingId, blockSpec.slug, rows)) match {
          case scala.util.Success(errs) => errs.foreach { case (root, msg) =>
            ledger += LedgerEntry(blockSpec.slug, -1, "checkpoint_failed", 0,
              now(), now(), s"$root: $msg")
          }
          case scala.util.Failure(ex) =>
            ledger += LedgerEntry(blockSpec.slug, -1, "checkpoint_failed", 0,
              now(), now(), String.valueOf(ex.getMessage))
        }
      }

      sortedResults.foreach { case (idx, tried) =>
        tried match {
          case scala.util.Failure(ex) =>
            ledger += LedgerEntry(blockSpec.slug, idx, "failed", 1, t0, now(),
              String.valueOf(ex.getMessage))
            commitPartial() // completed rows before the failure survive
            return RunReport(processingId,
              Failed(s"${blockSpec.slug}[$idx]: ${ex.getMessage}"),
              outputs.toMap, ledger.toSeq)
          case scala.util.Success(res) =>
            if (res.stop) {
              val status =
                if (res.targetSlug.nonEmpty && res.targetIdx >= 0) "stopped_for_regeneration"
                else "stopped"
              ledger += LedgerEntry(blockSpec.slug, idx, status, 1, t0, now())
              commitPartial()
              if (res.targetSlug.nonEmpty && res.targetIdx >= 0) {
                // E10: replay the resolved input of the target row,
                // synchronously (the reference re-enters Process in a
                // goroutine, pipeline.go:458-505).
                val replay = blockInputsData.get(res.targetSlug)
                  .flatMap(_.lift(res.targetIdx)).getOrElse(Map.empty)
                if (depth < 8)
                  return runLoop(spec,
                    StartInput(res.targetSlug, replay, res.targetIdx),
                    conf, processingId, ledger, depth + 1)
                return RunReport(processingId,
                  StoppedForRegeneration(res.targetSlug, res.targetIdx),
                  outputs.toMap, ledger.toSeq)
              }
              return RunReport(processingId, Stopped, outputs.toMap, ledger.toSeq)
            }
            // E13: fan-out keeps output[0] at the input index; a single
            // input row explodes its buffers to independent indexes
            // (pipeline.go:523-601 — how audio_chunk's N chunks become
            // N rows).
            if (isArray)
              upsert(idx, res.outputs.headOption.getOrElse(Array.empty))
            else res.outputs.zipWithIndex.foreach { case (b, oi) => upsert(oi, b) }
            ledger += LedgerEntry(blockSpec.slug, idx, "completed", 1, t0, now())
        }
      }

      // E11 — storage failures are logged, not fatal (the reference
      // reports per-storage save errors and keeps processing,
      // pipeline.go:545-560); the run continues on in-memory state but
      // a later RESUME would lose this stage.
      commitPartial()
    }

    RunReport(processingId, Completed, outputs.toMap, ledger.toSeq)
  }

  // ------------------------------------------------------ execution
  /** Runs a block over its fan-out rows with a retry loop per row (E9,
    * processing.go:188-296); sequential mode aborts at the first
    * error/stop (pipeline.go:613-624), parallel mode mirrors
    * goroutine-per-row. */
  private def runRows(op: BlockOp, rows: Seq[InputRow], parallel: Boolean,
      ctx: BlockCtx): Seq[(Int, Try[BlockResult])] = {

    def runOne(r: InputRow): Try[BlockResult] = {
      val retries = r.props.get("retry_count").map(_.asLong.toInt)
        .getOrElse(op.retryCount)
      val interval = r.props.get("retry_interval_ms").map(_.asLong)
        .getOrElse(op.retryIntervalMs)
      val rowCtx = ctx.copy(inputIndex = r.idx.toInt)
      var attempt = 0
      var last: Try[BlockResult] = null
      while (attempt <= retries) {
        last = Try(op.process(r, rowCtx))
        last match {
          case scala.util.Success(res) if !res.retry => return last
          case scala.util.Success(_) if attempt < retries =>
            if (interval > 0) Thread.sleep(interval)
          case scala.util.Success(_) =>
            return scala.util.Failure(new RuntimeException(
              s"failed after exhausting all $retries retry attempts"))
          case scala.util.Failure(_) => return last
        }
        attempt += 1
      }
      last
    }

    if (parallel) {
      // The caller and up to n-1 pool helpers claim rows from one
      // counter. The caller waits only for rows a helper has claimed, so
      // a pool busy with other runs never stalls this fan-out.
      val out = new Array[Try[BlockResult]](rows.size)
      val done = Array.fill(rows.size)(new CountDownLatch(1))
      val next = new AtomicInteger(0)
      def drain(): Unit =
        Iterator.continually(next.getAndIncrement()).takeWhile(_ < rows.size)
          .foreach(i => try out(i) = runOne(rows(i)) finally done(i).countDown())
      (1 until rows.size).foreach(_ => ExecutionContext.global.execute(() => drain()))
      drain()
      done.foreach(_.await())
      rows.indices.map(i => (rows(i).idx.toInt, Option(out(i)).getOrElse(
        scala.util.Failure(new IllegalStateException("row worker died")))))
    } else {
      val acc = scala.collection.mutable.ArrayBuffer[(Int, Try[BlockResult])]()
      rows.foreach { r =>
        val res = runOne(r)
        acc += ((r.idx.toInt, res))
        res match {
          case scala.util.Failure(_) => return acc.toSeq // early abort
          case scala.util.Success(b) if b.stop => return acc.toSeq
          case _ => ()
        }
      }
      acc.toSeq
    }
  }

  // ---------------------------------------------------------- ledger
  private def now(): Long = System.currentTimeMillis()

  private def saveLedger(spec: PipelineSpec, conf: RunConfig,
      processingId: String, report: RunReport, ledger: Seq[LedgerEntry]): Unit = {
    val ts = now()
    val logName = s"log_$ts"
    val entries = ledger.map { e =>
      PObj(Map("block" -> PStr(e.block), "idx" -> PInt(e.idx),
        "status" -> PStr(e.status), "attempts" -> PInt(e.attempts),
        "started_ms" -> PInt(e.startedMs), "finished_ms" -> PInt(e.finishedMs),
        "error" -> PStr(e.error)))
    }
    conf.checkpoint.saveDocument(spec.slug, processingId, logName,
      Json.render(PArr(entries)))
    val status = PObj(Map(
      "is_completed" -> PBool(report.status == Completed),
      "is_stopped" -> PBool(report.status == Stopped ||
        report.status.isInstanceOf[StoppedForRegeneration]),
      "is_error" -> PBool(report.status.isInstanceOf[Failed]),
      "date_finished" -> PInt(ts),
      "log_id" -> PStr(logName)))
    conf.checkpoint.saveDocument(spec.slug, processingId, s"status_$ts",
      Json.render(status))
  }

  /** §3.3 observability: processings of a pipeline with their latest
    * status docs (status scan over storage, pipeline.go:643-698). */
  def listProcessings(spec: PipelineSpec, conf: RunConfig): Seq[(String, Option[PValue])] =
    conf.checkpoint.listProcessings(spec.slug).map { pid =>
      val statuses = conf.checkpoint.readDocuments(spec.slug, pid, "status_")
      (pid, statuses.lastOption.map(d => Json.parse(d._2)))
    }
}
