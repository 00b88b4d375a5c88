package graft.pipeline

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import scala.concurrent.ExecutionContext

/** Minimal HTTP facade over the engine — the reference's API surface
  * (api/server.go:261-303; handlers api/handlers/pipelines.go):
  *
  *   GET  /health
  *   GET  /blocks
  *   GET  /pipelines                       (registry listing)
  *   GET  /pipelines/{slug}
  *   GET  /pipelines/{slug}/processings    (status scan, §3.3)
  *   POST /pipelines/{slug}/start          (async; returns processing_id)
  *   POST /pipelines/{slug}/resume         (processing_id + block slug)
  *
  * Start/resume return immediately with the processing id while the run
  * executes in a Future — the reference's goroutine boundary (§3.1
  * step 4). JSON body: {"block":{"slug":"...","input":{...},
  * "target_index":N}, "pipeline":{"processing_id":"..."}}.
  */
class PipelineService(
    specs: Seq[PipelineSpec],
    conf: Runner.RunConfig)(implicit ec: ExecutionContext) {

  private val bySlug = specs.map(s => s.slug -> s).toMap
  private var server: Option[HttpServer] = None

  def start(port: Int = 0): Int = {
    // Replies go out at once instead of waiting, under Nagle's rule, for
    // the client's delayed ACK (≈40 ms per request). The JDK reads this
    // when the first server of the JVM is created.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    srv.createContext("/", (ex: HttpExchange) => handle(ex))
    srv.setExecutor(null)
    srv.start()
    server = Some(srv)
    srv.getAddress.getPort
  }

  def stop(): Unit = { server.foreach(_.stop(0)); server = None }

  // ------------------------------------------------------------------
  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    try {
      (method, path.split("/").drop(1).toList) match {
        case ("GET", List("health")) =>
          respond(ex, 200, """{"status":"ok"}""")
        case ("GET", List("blocks")) =>
          // id + availability + the input schema (the reference serves
          // each block's JSON Schema string; we serve the parsed form)
          val blocks = conf.registry.byId.values.toSeq.sortBy(_.id).map(op =>
            PObj(Map("id" -> PStr(op.id), "description" -> PStr(op.description),
              "available" -> PBool(op.available(conf.ctx)),
              "input_schema" -> PArr(op.props.map(p => PObj(Map(
                "name" -> PStr(p.name),
                "type" -> PStr(typeName(p.typ)),
                "required" -> PBool(p.required)) ++
                p.default.map(d => "default" -> d) ++
                (if (p.enumVals.nonEmpty)
                  Some("enum" -> PArr(p.enumVals.map(PStr(_)))) else None)))))))
          respond(ex, 200, Json.render(PArr(blocks)))
        case ("GET", List("workers")) =>
          // The reference lists mDNS-discovered peer workers
          // (api/server.go:267-269, types/mdns.go:85-114). Spark owns
          // placement (E15 drop), so the live executor topology IS the
          // worker pool — served in the same spirit: host, capacity,
          // current load.
          val tracker = conf.spark.sparkContext.statusTracker
          val workers = tracker.getExecutorInfos.toSeq.map(e => PObj(Map(
            "host" -> PStr(e.host),
            "port" -> PInt(e.port.toLong),
            "cache_memory_bytes" -> PInt(e.cacheSize),
            "running_tasks" -> PInt(e.numRunningTasks.toLong),
            "available" -> PBool(true))))
          respond(ex, 200, Json.render(PArr(workers)))
        case ("GET", List("swagger")) =>
          respond(ex, 200, Json.render(openApiDoc))
        case ("GET", List("pipelines")) =>
          respond(ex, 200, Json.render(PArr(specs.map(describe))))
        case ("GET", List("pipelines", slug)) =>
          bySlug.get(slug) match {
            case Some(s) => respond(ex, 200, Json.render(describe(s)))
            case None    => error(ex, 404, s"unknown pipeline '$slug'")
          }
        case ("GET", List("pipelines", slug, "processings")) =>
          bySlug.get(slug) match {
            case Some(s) =>
              val items = Runner.listProcessings(s, conf).map { case (pid, status) =>
                PObj(Map("processing_id" -> PStr(pid),
                  "status" -> status.getOrElse(PNull)))
              }
              respond(ex, 200, Json.render(PArr(items)))
            case None => error(ex, 404, s"unknown pipeline '$slug'")
          }
        case ("GET", List("pipelines", _, "processings", pid, _*))
            if !Runner.isProcessingId(pid) =>
          error(ex, 404, s"unknown processing '$pid'")
        case ("GET", List("pipelines", slug, "processings", pid)) =>
          // §3.3 details: latest status + the structured run-ledger
          // (replaces the reference's log-text parse, pipeline.go:700-802)
          bySlug.get(slug) match {
            case Some(_) =>
              val statuses = conf.checkpoint.readDocuments(slug, pid, "status_")
              val logs = conf.checkpoint.readDocuments(slug, pid, "log_")
              if (statuses.isEmpty && logs.isEmpty)
                error(ex, 404, s"unknown processing '$pid'")
              else respond(ex, 200, Json.render(PObj(Map(
                "processing_id" -> PStr(pid),
                "status" -> statuses.lastOption.map(d => Json.parse(d._2)).getOrElse(PNull),
                "ledger" -> logs.lastOption.map(d => Json.parse(d._2)).getOrElse(PArr(Nil)),
                "log_ids" -> PArr(logs.map(d => PStr(d._1)))))))
            case None => error(ex, 404, s"unknown pipeline '$slug'")
          }
        case ("GET", List("pipelines", slug, "processings", pid, logId)) =>
          // by-log-id details variant (api/server.go:276,
          // pipeline.go:700-751): one specific historical run ledger
          bySlug.get(slug) match {
            case Some(_) =>
              conf.checkpoint.readDocuments(slug, pid, "log_")
                .find(_._1 == logId) match {
                case Some((name, text)) =>
                  respond(ex, 200, Json.render(PObj(Map(
                    "processing_id" -> PStr(pid),
                    "log_id" -> PStr(name),
                    "ledger" -> Json.parse(text)))))
                case None =>
                  error(ex, 404, s"unknown log '$logId'")
              }
            case None => error(ex, 404, s"unknown pipeline '$slug'")
          }
        case ("POST", List("pipelines", slug, action)) if action == "start" || action == "resume" =>
          bySlug.get(slug) match {
            case None => error(ex, 404, s"unknown pipeline '$slug'")
            case Some(spec) =>
              val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
              val multipart = ct.toLowerCase.startsWith("multipart/form-data")
              // a multipart body over the cap is refused, so reading stops
              // one byte past it instead of holding the dispatcher thread
              // and the heap for whatever length the client declared
              val body =
                if (multipart) ex.getRequestBody.readNBytes(MultipartMaxBytes + 1)
                else ex.getRequestBody.readAllBytes()
              val req =
                if (multipart)
                  parseMultipartStart(body, ct)
                else if (ct.isEmpty || ct.toLowerCase.startsWith("application/json"))
                  parseJsonStart(body)
                else Left("Unsupported Content-Type")
              req match {
                case Left(err) =>
                  error(ex, 400, err)
                case Right(start) =>
                  val pid = start.processingId match {
                    case "" if action == "resume" =>
                      error(ex, 400, "resume requires pipeline.processing_id")
                      return
                    case "" => Runner.newProcessingId()
                    // the id becomes a storage path segment: anything but
                    // a UUID (e.g. "../x") could write outside every root
                    case p if !Runner.isProcessingId(p) =>
                      error(ex, 400, s"pipeline.processing_id must be a UUID, got '$p'")
                      return
                    case p  => p
                  }
                  if (action == "resume" && start.input.blockSlug.isEmpty) {
                    error(ex, 400, "resume requires block.slug")
                    return
                  }
                  // async boundary: return the id, run in a Future
                  scala.concurrent.Future {
                    Runner.process(spec, start.input, conf, pid)
                  }
                  respond(ex, 200, s"""{"processing_id":"$pid"}""")
              }
          }
        case _ => error(ex, 404, "not found")
      }
    } catch {
      case e: Exception =>
        error(ex, 500, String.valueOf(e.getMessage))
    }
  }

  /** A parsed start/resume request: the Runner input plus the optional
    * client-supplied processing id. */
  private case class StartRequest(input: Runner.StartInput, processingId: String)

  /** JSON body: {"block":{"slug","input","target_index","destination_slug"},
    * "pipeline":{"processing_id"}}. Binary inputs ride as base64 under
    * `<name>_b64` — the JSON-body analogue of the multipart file fields. */
  private def parseJsonStart(body: Array[Byte]): Either[String, StartRequest] = {
    val text = new String(body, "UTF-8")
    val parsed =
      if (text.trim.isEmpty) PObj(Map.empty)
      else Json.tryParse(text).getOrElse(return Left("Unable to parse JSON body"))
    val block = field(parsed, "block")
    val input = field(block, "input") match {
      case PObj(m) => m.map {
        case (k, PStr(b64)) if k.endsWith("_b64") =>
          val bytes =
            try java.util.Base64.getDecoder.decode(b64)
            catch { case _: IllegalArgumentException =>
              return Left(s"error parsing block: block.input.$k is not valid base64")
            }
          k.stripSuffix("_b64") -> (PBytes(bytes): PValue)
        case kv => kv
      }
      case _ => Map.empty[String, PValue]
    }
    val targetIndex = field(block, "target_index") match {
      case PNull => -1
      case PInt(i) if i.isValidInt => i.toInt
      case other => return Left(
        s"error parsing block: invalid block.target_index: ${Json.render(other)}")
    }
    Right(StartRequest(
      Runner.StartInput(strField(block, "slug"), input, targetIndex,
        strField(block, "destination_slug")),
      strField(field(parsed, "pipeline"), "processing_id")))
  }

  private val MultipartMaxBytes = 10 * 1024 * 1024

  /** Multipart form parity with the reference (schemas/pipelines.go:78-154):
    * `pipeline.slug`/`block.slug` required, `block.target_index` int with
    * -1 default, `block.input.<f>` scalars, `block.input.<f>[]` string
    * arrays, file parts under `block.input.<f>` as raw bytes; bodies over
    * 10 MiB are rejected (handlers/pipelines.go:155). */
  private def parseMultipartStart(
      body: Array[Byte], contentType: String): Either[String, StartRequest] = {
    if (body.length > MultipartMaxBytes) return Left("Unable to parse multipart form")
    val bound = Multipart.boundary(contentType)
      .getOrElse(return Left("Unable to parse multipart form"))
    val (form, files) = Multipart.formAndFiles(Multipart.parse(body, bound))
    if (!form.get("pipeline.slug").exists(_.headOption.exists(_.nonEmpty)))
      return Left("error parsing pipeline: pipeline.slug is missing")
    val blockSlug = form.get("block.slug").flatMap(_.headOption).getOrElse("")
    if (blockSlug.isEmpty) return Left("error parsing block: block.slug is missing")
    val targetIndex = form.get("block.target_index").flatMap(_.headOption) match {
      case None => -1
      case Some(s) => try s.trim.toInt catch {
        case _: NumberFormatException =>
          return Left(s"error parsing block: invalid block.target_index: $s")
      }
    }
    val fieldInputs: Map[String, PValue] = form.collect {
      case (k, vs) if k.startsWith("block.input.") =>
        val name = k.stripPrefix("block.input.")
        if (name.endsWith("[]"))
          name.stripSuffix("[]") -> (PArr(vs.map(PStr(_))): PValue)
        else name -> (PStr(vs.head): PValue)
    }
    val fileInputs: Map[String, PValue] = files.collect {
      case (k, bytes) if k.startsWith("block.input.") =>
        k.stripPrefix("block.input.") -> (PBytes(bytes): PValue)
    }
    Right(StartRequest(
      Runner.StartInput(blockSlug, fieldInputs ++ fileInputs, targetIndex,
        form.get("block.destination_slug").flatMap(_.headOption).getOrElse("")),
      form.get("pipeline.processing_id").flatMap(_.headOption).getOrElse("")))
  }

  /** OpenAPI 3.0 description of the served routes (the reference mounts
    * swagger at api/server.go:297-302; we serve the document itself). */
  private lazy val openApiDoc: PValue = {
    def op(summary: String, params: Seq[String] = Nil): PObj = PObj(Map(
      "summary" -> PStr(summary),
      "parameters" -> PArr(params.map(p => PObj(Map(
        "name" -> PStr(p), "in" -> PStr("path"),
        "required" -> PBool(true),
        "schema" -> PObj(Map("type" -> PStr("string")))))))))
    PObj(Map(
      "openapi" -> PStr("3.0.3"),
      "info" -> PObj(Map(
        "title" -> PStr("graft pipeline engine"),
        "version" -> PStr("1.0"))),
      "paths" -> PObj(Map(
        "/health" -> PObj(Map("get" -> op("Liveness probe"))),
        "/blocks" -> PObj(Map("get" -> op("All block types with input schemas"))),
        "/workers" -> PObj(Map("get" -> op("Live executor topology"))),
        "/pipelines" -> PObj(Map("get" -> op("Registered pipelines"))),
        "/pipelines/{slug}" -> PObj(Map(
          "get" -> op("One pipeline's spec", Seq("slug")))),
        "/pipelines/{slug}/processings" -> PObj(Map(
          "get" -> op("Processings with latest status", Seq("slug")))),
        "/pipelines/{slug}/processings/{id}" -> PObj(Map(
          "get" -> op("Latest status + run ledger", Seq("slug", "id")))),
        "/pipelines/{slug}/processings/{id}/{logId}" -> PObj(Map(
          "get" -> op("One historical run ledger", Seq("slug", "id", "logId")))),
        "/pipelines/{slug}/start" -> PObj(Map(
          "post" -> op("Start a processing (JSON or multipart/form-data)",
            Seq("slug")))),
        "/pipelines/{slug}/resume" -> PObj(Map(
          "post" -> op("Resume from a block (JSON or multipart/form-data)",
            Seq("slug"))))))))
  }

  private def typeName(t: PType): String = t match {
    case TString => "string"
    case TFile   => "file"
    case TUrl    => "url"
    case TColor  => "color"
    case TNumber => "number"
    case TInt    => "integer"
    case TBool   => "boolean"
    case TArr(e) => s"array<${typeName(e)}>"
    case TObj    => "object"
  }

  private def describe(s: PipelineSpec): PObj = PObj(Map(
    "slug" -> PStr(s.slug), "title" -> PStr(s.title),
    "description" -> PStr(s.description),
    "blocks" -> PArr(s.blocks.map(b =>
      PObj(Map("id" -> PStr(b.id), "slug" -> PStr(b.slug)))))))

  private def field(v: PValue, name: String): PValue = v match {
    case PObj(m) => m.getOrElse(name, PNull)
    case _       => PNull
  }
  private def strField(v: PValue, name: String): String = field(v, name) match {
    case PNull  => ""
    case other  => other.asString
  }

  private def error(ex: HttpExchange, code: Int, message: String): Unit =
    respond(ex, code, Json.render(PObj(Map("error" -> PStr(message)))))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }
}
