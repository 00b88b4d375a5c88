package graft.perfbench

import graft.pipeline._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.hadoop.conf.Configuration
import scala.concurrent.ExecutionContext

/** `service_mix`: the pipeline service over HTTP, in-process, with the
  * mock model, moderation and HTTP clients. A closed loop of one client
  * thread per core; each client repeats text start, image start, and a
  * resume of its own last text run, polling the processing route at a
  * fixed interval until the run's own status document appears. */
object ServiceMix {
  val pollMs = 25L
  val runTimeoutMs = 30000.0
  val setupReps = 3
  val warmLoopSeconds = 8.0
  val imageSide = 384
  val resized = 512

  val textSpecJson: String =
    """{"slug":"bench-text","title":"text","description":"six-block text pipeline","blocks":[
      |{"id":"openai_chat_completion","slug":"plan","description":"ask the model for eight topics"},
      |{"id":"openai_chat_completion","slug":"expand","description":"expand every topic into a sentence",
      | "input_config":{"type":"array","parallel":true,"property":{
      |   "user_prompt":{"origin":"plan","json_path":"$.topics[*]"}}}},
      |{"id":"text_replace","slug":"replace","description":"rewrite the marker in every sentence",
      | "input":{"old":"MARK","new":"mark","prefix":"<","suffix":">"},
      | "input_config":{"type":"array","property":{"text":{"origin":"expand"}}}},
      |{"id":"wrap_text","slug":"wrap","description":"wrap every sentence in brackets",
      | "input":{"prefix":"[","suffix":"]"},
      | "input_config":{"type":"array","property":{"text":{"origin":"replace"}}}},
      |{"id":"join_strings","slug":"join","description":"join the sentences into one paragraph",
      | "input":{"separator":" | "},
      | "input_config":{"property":{"strings":{"origin":"wrap","array_input":true}}}},
      |{"id":"format_string_from_object","slug":"format","description":"format the final report text",
      | "input":{"template":"report: {body}"},
      | "input_config":{"property":{"body":{"origin":"join"}}}}
      |]}""".stripMargin

  val imageSpecJson: String =
    s"""{"slug":"bench-image","title":"image","description":"four-block image pipeline","blocks":[
      |{"id":"upload_file","slug":"upload","description":"accept the uploaded image bytes"},
      |{"id":"image_resize","slug":"resize","description":"resize the upload to a fixed square",
      | "input":{"width":$resized,"height":$resized,"keep_aspect_ratio":false},
      | "input_config":{"property":{"image":{"origin":"upload"}}}},
      |{"id":"image_blur","slug":"blur","description":"blur the resized image a little",
      | "input":{"sigma":1.5},
      | "input_config":{"property":{"image":{"origin":"resize"}}}},
      |{"id":"image_add_text","slug":"caption","description":"draw a caption onto the blurred image",
      | "input":{"text":"benchmark caption","font_size":32},
      | "input_config":{"property":{"image":{"origin":"blur"}}}}
      |]}""".stripMargin

  val textBlocks = Seq("plan", "expand", "replace", "wrap", "join", "format")
  val resumeFrom = "replace"
  val resumeBlocks: Seq[String] = textBlocks.dropWhile(_ != resumeFrom)

  /** Checkpoint store that records a span around every call. */
  final class TimedStore(root: String, @transient tracer: Tracer)
      extends CheckpointStore(Seq(root), new Configuration()) {
    private def timed[T](name: String, pid: String)(body: => T)(
        attrs: T => Map[String, Double]): T = {
      val s = tracer.nowMs
      val out = body
      tracer.record(name, s, tracer.nowMs, tracer.current.get.longValue, pid, attrs(out))
      out
    }
    override def saveOutput(pipeline: String, processingId: String,
        blockSlug: String, rows: Seq[(Int, Array[Byte])]): Seq[(String, String)] =
      timed("checkpoint.save_output", processingId)(
        super.saveOutput(pipeline, processingId, blockSlug, rows))(errs => Map(
        "files" -> (rows.size * roots.size).toDouble,
        "bytes" -> (rows.map(_._2.length.toLong).sum * roots.size).toDouble,
        "failures" -> errs.size.toDouble))
    override def loadOutput(pipeline: String, processingId: String,
        blockSlug: String): Option[Seq[(Int, Array[Byte])]] =
      timed("checkpoint.load_output", processingId)(
        super.loadOutput(pipeline, processingId, blockSlug))(_ => Map.empty)
    override def saveDocument(pipeline: String, processingId: String,
        name: String, content: String): Seq[(String, String)] =
      timed("checkpoint.save_document", processingId)(
        super.saveDocument(pipeline, processingId, name, content))(errs => Map(
        "files" -> roots.size.toDouble,
        "bytes" -> (content.length.toLong * roots.size).toDouble,
        "failures" -> errs.size.toDouble))
  }

  /** Runs each service Future inside a `runner.run` span, so the
    * checkpoint calls the run makes on its thread nest under it. */
  final class TracedEc(tracer: Tracer) extends ExecutionContext {
    private val under = ExecutionContext.global
    override def execute(r: Runnable): Unit = {
      val queued = tracer.nowMs
      under.execute { () =>
        val id = tracer.newId()
        tracer.current.set(id)
        val s = tracer.nowMs
        try r.run()
        finally {
          tracer.record("runner.run", s, tracer.nowMs,
            attrs = Map("queued_ms" -> queued), id = id)
          tracer.current.set(0L)
        }
      }
    }
    override def reportFailure(t: Throwable): Unit = under.reportFailure(t)
  }

  /** One request and what the client saw. */
  final case class Outcome(
      kind: String, pid: String, prompt: String,
      sentMs: Double, doneMs: Double, completed: Boolean, error: String,
      doc: PValue, polls: Int, non2xx: Int) {
    def ms: Double = doneMs - sentMs
  }

  /** A seeded noise PNG (noise does not compress, so the upload stays
    * near three bytes per pixel). */
  def noisePng(seed: Long, side: Int): Array[Byte] = {
    val rng = new java.util.Random(seed)
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until side; x <- 0 until side) img.setRGB(x, y, rng.nextInt(1 << 24))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private val boundary = "perfbenchBoundary7f3a9c"

  def multipart(fields: Seq[(String, String)], file: (String, Array[Byte])): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    fields.foreach { case (k, v) =>
      out.write((s"--$boundary\r\nContent-Disposition: form-data; " +
        s"""name="$k"\r\n\r\n$v\r\n""").getBytes("UTF-8"))
    }
    out.write((s"--$boundary\r\nContent-Disposition: form-data; " +
      s"""name="${file._1}"; filename="upload.png"\r\n""" +
      "Content-Type: image/png\r\n\r\n").getBytes("UTF-8"))
    out.write(file._2)
    out.write(s"\r\n--$boundary--\r\n".getBytes("UTF-8"))
    out.toByteArray
  }

  /** One closed-loop client: a connection, a seeded prompt stream and
    * its last completed text run (the next resume's target). */
  final class Client(port: Int, idx: Int, seed: Long, images: IndexedSeq[Array[Byte]],
      tracer: Tracer) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val rng = new scala.util.Random(seed * 1000003L + idx)
    private var lastText: Option[Outcome] = None
    // clients start at different kinds, so they do not move in step
    private var step = math.floorMod(idx, 3)

    private def send(req: HttpRequest): (Int, String) = {
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    }
    private def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")

    /** The next request in text, image, resume order (a resume falls
      * back to a text start if the last text run did not complete). */
    def next(): Outcome = {
      val kind = Seq("text", "image", "resume")(step % 3) match {
        case "resume" if !lastText.exists(_.completed) => "text"
        case k => k
      }
      step += 1
      val o = kind match {
        case "text" =>
          val prompt = "plan: " + Seq.fill(3)(rng.alphanumeric.take(6).mkString).mkString(" ")
          val body = Json.render(PObj(Map("block" -> PObj(Map("slug" -> PStr(""),
            "input" -> PObj(Map("user_prompt" -> PStr(prompt),
              "response_format" -> PStr("json"))))))))
          request("text", "bench-text", prompt, Set.empty,
            HttpRequest.newBuilder(uri("/pipelines/bench-text/start"))
              .header("Content-Type", "application/json")
              .POST(HttpRequest.BodyPublishers.ofString(body)).build())
        case "image" =>
          val img = images(rng.nextInt(images.size))
          val body = multipart(Seq("pipeline.slug" -> "bench-image", "block.slug" -> "upload"),
            "block.input.file" -> img)
          request("image", "bench-image", "", Set.empty,
            HttpRequest.newBuilder(uri("/pipelines/bench-image/start"))
              .header("Content-Type", s"multipart/form-data; boundary=$boundary")
              .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build())
        case _ =>
          val prev = lastText.get
          val body = Json.render(PObj(Map(
            "block" -> PObj(Map("slug" -> PStr(resumeFrom))),
            "pipeline" -> PObj(Map("processing_id" -> PStr(prev.pid))))))
          request("resume", "bench-text", prev.prompt, Checks.logIds(prev.doc),
            HttpRequest.newBuilder(uri("/pipelines/bench-text/resume"))
              .header("Content-Type", "application/json")
              .POST(HttpRequest.BodyPublishers.ofString(body)).build(), prev.pid)
      }
      if (kind == "text") lastText = Some(o)
      o
    }

    /** Sends a start or resume and polls until the run's own status;
      * any error on the way is the outcome of the request. */
    private def request(kind: String, slug: String, prompt: String,
        logIdsBefore: Set[String], req: HttpRequest, knownPid: String = ""): Outcome = {
      val sent = tracer.nowMs
      try startAndPoll(kind, slug, prompt, logIdsBefore, req, knownPid, sent)
      catch {
        case scala.util.control.NonFatal(e) =>
          Outcome(kind, knownPid, prompt, sent, tracer.nowMs, completed = false,
            s"request failed: $e", PNull, 0, 0)
      }
    }

    private def startAndPoll(kind: String, slug: String, prompt: String,
        logIdsBefore: Set[String], req: HttpRequest, knownPid: String, sent: Double): Outcome = {
      val (code, body) = send(req)
      val pid = if (code == 200) Checks.field(Json.parse(body), "processing_id").asString else knownPid
      tracer.record("api.start", sent, tracer.nowMs, requestId = pid,
        attrs = Map("status" -> code.toDouble))
      if (code != 200)
        return Outcome(kind, pid, prompt, sent, tracer.nowMs, completed = false,
          s"start refused with HTTP $code: $body", PNull, 0, 1)
      var polls = 0
      var non2xx = 0
      while (tracer.nowMs - sent < runTimeoutMs) {
        Thread.sleep(pollMs)
        val p0 = tracer.nowMs
        val (pc, pbody) = send(HttpRequest.newBuilder(
          uri(s"/pipelines/$slug/processings/$pid")).GET().build())
        val p1 = tracer.nowMs
        polls += 1
        tracer.record("api.poll", p0, p1, requestId = pid, attrs = Map("status" -> pc.toDouble))
        // 404 is the route's answer until the run writes its first status
        if (pc == 200) {
          val doc = Json.parse(pbody)
          Checks.ownStatus(doc, logIdsBefore).foreach { st =>
            val done = Checks.isCompleted(st)
            return Outcome(kind, pid, prompt, sent, p1, done,
              if (done) "" else s"run ended without completing: ${Json.render(st)}",
              doc, polls, non2xx)
          }
        } else if (pc != 404) non2xx += 1
      }
      Outcome(kind, pid, prompt, sent, tracer.nowMs, completed = false,
        "timed out", PNull, polls, non2xx)
    }
  }

  /** Checks a completed run's final output; returns the failure, if any. */
  def verify(o: Outcome, store: CheckpointStore): Option[String] = {
    if (!o.completed) return Some(s"${o.kind} ${o.pid}: ${o.error}")
    val (slug, last, blocks) = o.kind match {
      case "image"  => ("bench-image", "caption", Seq("upload", "resize", "blur", "caption"))
      case "resume" => ("bench-text", "format", resumeBlocks)
      case _        => ("bench-text", "format", textBlocks)
    }
    val ran = Checks.ledgerBlocks(o.doc)
    if (ran != blocks) return Some(s"${o.kind} ${o.pid}: ledger ran $ran, expected $blocks")
    store.loadOutput(slug, o.pid, last).flatMap(_.headOption).map(_._2) match {
      case None => Some(s"${o.kind} ${o.pid}: no output at $last")
      case Some(bytes) if o.kind == "image" =>
        Checks.pngSize(bytes) match {
          case Some((w, h)) if w == resized && h == resized => None
          case got => Some(s"image ${o.pid}: output size $got, expected $resized x $resized")
        }
      case Some(bytes) =>
        val got = new String(bytes, "UTF-8")
        val want = Checks.Responder.expectedText(o.prompt)
        if (got == want) None else Some(s"${o.kind} ${o.pid}: output '$got', expected '$want'")
    }
  }

  def run(b: Bench): Result = {
    val registry = BlockRegistry.standard()
    def parse(json: String) = PipelineSpec.parse(json, registry.ids)
      .fold(e => sys.error(e.mkString("; ")), identity)
    val specs = Seq(parse(textSpecJson), parse(imageSpecJson))
    val images = (0 until 4).map(i => noisePng(b.seed * 31 + i, imageSide))
    val nClients = Runtime.getRuntime.availableProcessors
    val tracer = b.tracer

    def boot(rep: Int): (PipelineService, Int, CheckpointStore) = {
      val root = b.scratch.resolve(s"checkpoints-$rep").toString
      val store =
        if (tracer.enabled) new TimedStore(root, tracer) else new CheckpointStore(root)
      val llm = new Clients.MockLLMClient()
      llm.chatResponder = Some(Checks.Responder.respond)
      val ctx = BlockCtx(llm, new Clients.MockModerationClient(), new Clients.MockHttpClient())
      implicit val ec: ExecutionContext =
        if (tracer.enabled) new TracedEc(tracer) else ExecutionContext.global
      val svc = new PipelineService(specs, Runner.RunConfig(b.spark, registry, store, ctx))
      (svc, svc.start(), store)
    }

    // Set-up: boot the service on a fresh checkpoint root and send one
    // text request; done several times, the last kept.
    val warm = scala.collection.mutable.ArrayBuffer[Outcome]()
    var live: (PipelineService, Int, CheckpointStore) = null
    val setupTimes = (0 until setupReps).map { rep =>
      val t0 = System.nanoTime()
      if (live != null) live._1.stop()
      live = boot(rep)
      val c = new Client(live._2, -3 * (rep + 1), b.seed, images, tracer) // starts at text
      warm += c.next()
      (System.nanoTime() - t0) / 1e9
    }
    val (svc, port, store) = live
    val warmStores = (0 until setupReps).map(rep =>
      new CheckpointStore(b.scratch.resolve(s"checkpoints-$rep").toString))

    // One closed loop of all clients: requests sent in the first
    // `warmLoopSeconds` warm the JIT up (latency keeps falling for about
    // 15 s of load) and are not measured; requests sent in the next
    // `seconds` are. Runs in flight at the end finish.
    val loopStart = tracer.nowMs
    val t0 = loopStart + warmLoopSeconds * 1000.0
    val deadline = t0 + b.seconds * 1000.0
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]()
    val threads = (0 until nClients).map { i =>
      val t = new Thread(() => {
        val c = new Client(port, i, b.seed, images, tracer)
        while (tracer.nowMs < deadline) outcomes.add(c.next())
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val elapsedMs = tracer.nowMs - t0
    svc.stop()
    val (measured, warmLoop) =
      scala.jdk.CollectionConverters.CollectionHasAsScala(outcomes).asScala.toSeq
        .partition(_.sentMs >= t0)

    val plain = new CheckpointStore(store.roots)
    val checked = measured.map(o => o -> verify(o, plain))
    val failures = checked.flatMap(_._2) ++ warmLoop.flatMap(verify(_, plain)) ++
      warm.zip(warmStores).flatMap { case (o, st) => verify(o, st) }
    failures.take(5).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val okRuns = checked.collect { case (o, None) => o }
    val lat = okRuns.map(_.ms)
    def kindMs(k: String) = okRuns.filter(_.kind == k).map(_.ms)

    val e2e = Map(
      "ops_per_s" -> okRuns.size / (elapsedMs / 1000.0),
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p90_ms" -> Stats.quantile(lat, 0.9))
    val half = t0 + b.seconds * 500.0
    val info = Map(
      "runs" -> measured.size.toDouble,
      "first_half.p50_ms" -> Stats.median(okRuns.filter(_.sentMs < half).map(_.ms)),
      "second_half.p50_ms" -> Stats.median(okRuns.filter(_.sentMs >= half).map(_.ms)),
      "text_runs" -> kindMs("text").size.toDouble,
      "image_runs" -> kindMs("image").size.toDouble,
      "resume_runs" -> kindMs("resume").size.toDouble)
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        org.apache.spark.PerfbenchBridge.drainListeners(b.spark.sparkContext)
        ServiceLayers.derive(tracer.all.filter(_.startMs >= t0), okRuns, specs,
          measured.map(_.non2xx).sum)
      }
    Result(
      attempted = measured.size + warm.size + warmLoop.size,
      failed = failures.size,
      setupS = Stats.median(setupTimes) + (t0 - loopStart) / 1000.0,
      e2e = e2e,
      layers = layers,
      info = info ++ Seq("text", "image", "resume").flatMap(k => Seq(
        s"$k.p50_ms" -> Stats.median(kindMs(k)),
        s"$k.p90_ms" -> Stats.quantile(kindMs(k), 0.9))))
  }
}
