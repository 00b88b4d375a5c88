package graft.pipeline

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Starts a [[PipelineService]] as the first HTTP server of its JVM and
  * prints the median round trip, in ms, of 20 sequential `GET /health`
  * requests on one connection (after one that opens it). */
object HealthRoundTrip {
  def main(args: Array[String]): Unit = {
    val conf = Runner.RunConfig(null, BlockRegistry.standard(),
      new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-rtt").toString),
      Clients.mockCtx())
    val svc = new PipelineService(Nil, conf)(scala.concurrent.ExecutionContext.global)
    val port = svc.start()
    try {
      val client = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/health")).GET().build()
      def send(): Double = {
        val t0 = System.nanoTime()
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200, resp.body())
        (System.nanoTime() - t0) / 1e6
      }
      send()
      println(Seq.fill(20)(send()).sorted.apply(10))
    } finally svc.stop()
  }
}

/** The HTTP facade, driven through a real loopback socket — mirrors
  * the reference's server_test + the §3.1 start/resume handlers. */
class ApiSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val registry = BlockRegistry.standard()

  private def get(port: Int, path: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("health, blocks, pipelines, start, processings round-trip") {
    val specJson =
      """{"slug":"api-pipe","title":"t","description":"d","blocks":[
        |{"id":"wrap_text","slug":"wrap","description":"wrap the posted input text",
        | "input":{"prefix":"(",  "suffix":")"}}
        |]}""".stripMargin
    val spec = PipelineSpec.parse(specJson, registry.ids).toOption.get
    val uploadSpec = PipelineSpec("upload-pipe", "t", "d", Seq(
      BlockSpec("upload_file", "take", "accept the posted file bytes")))
    val root = java.nio.file.Files.createTempDirectory("graft-api").toString
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val conf = Runner.RunConfig(spark, registry,
      new CheckpointStore(root), Clients.mockCtx())
    val svc = new PipelineService(Seq(spec, uploadSpec), conf)
    val port = svc.start()
    try {
      assert(get(port, "/health") == (200, """{"status":"ok"}"""))

      val (bc, blocks) = get(port, "/blocks")
      assert(bc == 200 && blocks.contains(""""id":"wrap_text""""))
      // all 25 block ids are served, with their input schemas
      assert(registry.ids.forall(id => blocks.contains(s""""id":"$id"""")))
      assert(blocks.contains(""""input_schema""""))
      assert(blocks.contains(""""enum""""))

      // /workers: Spark executor topology in the reference's worker shape
      val (wc, workers) = get(port, "/workers")
      assert(wc == 200 && workers.contains(""""host""""))
      assert(workers.contains(""""running_tasks""""))

      // /swagger: OpenAPI doc covering every served route
      val (sgc, swagger) = get(port, "/swagger")
      assert(sgc == 200 && swagger.contains(""""openapi""""))
      assert(swagger.contains("/pipelines/{slug}/processings/{id}/{logId}"))

      val (pc, pipelines) = get(port, "/pipelines")
      assert(pc == 200 && pipelines.contains(""""slug":"api-pipe""""))
      assert(get(port, "/pipelines/nope")._1 == 404)

      val (sc, started) = post(port, "/pipelines/api-pipe/start",
        """{"block":{"slug":"","input":{"text":"ping"}}}""")
      assert(sc == 200 && started.contains("processing_id"))
      val pid = started.split("\"")(3)

      // async run → poll for the status doc
      val deadline = System.currentTimeMillis() + 20000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        val (_, body) = get(port, "/pipelines/api-pipe/processings")
        done = body.contains(pid) && body.contains(""""is_completed":true""")
        if (!done) Thread.sleep(50)
      }
      assert(done, "processing did not complete in time")

      // the checkpointed output is the wrapped text
      val out = conf.checkpoint.loadOutput("api-pipe", pid, "wrap").get
      assert(new String(out.head._2, "UTF-8") == "(ping)")

      // details endpoint: status + structured ledger
      val (dc, details) = get(port, s"/pipelines/api-pipe/processings/$pid")
      assert(dc == 200 && details.contains(""""is_completed":true"""))
      assert(details.contains(""""block":"wrap""""))
      assert(get(port, "/pipelines/api-pipe/processings/nope")._1 == 404)

      // by-log-id details variant: a specific historical run ledger
      val logId = "log_\\d+".r.findFirstIn(details).get
      val (lc, logDoc) = get(port, s"/pipelines/api-pipe/processings/$pid/$logId")
      assert(lc == 200 && logDoc.contains(s""""log_id":"$logId""""))
      assert(logDoc.contains(""""block":"wrap""""))
      assert(get(port, s"/pipelines/api-pipe/processings/$pid/log_0")._1 == 404)

      // base64 file input (the multipart analogue): starts an
      // upload-shaped run whose checkpoint holds the decoded bytes
      val png = Clients.MockLLMClient.pngBytes("api-upload")
      val b64 = java.util.Base64.getEncoder.encodeToString(png)
      val (uc, up) = post(port, "/pipelines/upload-pipe/start",
        s"""{"block":{"slug":"","input":{"file_b64":"$b64"}}}""")
      assert(uc == 200)
      val upid = up.split("\"")(3)
      val deadline2 = System.currentTimeMillis() + 20000
      var uploaded: Option[Seq[(Int, Array[Byte])]] = None
      while (uploaded.isEmpty && System.currentTimeMillis() < deadline2) {
        uploaded = conf.checkpoint.loadOutput("upload-pipe", upid, "take")
        if (uploaded.isEmpty) Thread.sleep(50)
      }
      assert(uploaded.get.head._2.sameElements(png))

      // resume requires processing_id and slug
      assert(post(port, "/pipelines/api-pipe/resume", "{}")._1 == 400)
      val (rc, _) = post(port, "/pipelines/api-pipe/resume",
        s"""{"pipeline":{"processing_id":"$pid"},"block":{"slug":"wrap","input":{"text":"again"}}}""")
      assert(rc == 200)
    } finally svc.stop()
  }

  test("a non-UUID processing id is refused; error bodies parse as JSON") {
    val spec = PipelineSpec("id-pipe", "t", "d", Seq(
      BlockSpec("wrap_text", "wrap", "wrap the posted input text",
        input = Map("prefix" -> PStr("("), "suffix" -> PStr(")")))))
    // the storage root sits one level down, so "../../escape" from
    // <root>/id-pipe would land beside it, inside `outer`
    val outer = java.nio.file.Files.createTempDirectory("graft-api-id")
    val root = outer.resolve("root").toString
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val conf = Runner.RunConfig(spark, registry,
      new CheckpointStore(root), Clients.mockCtx())
    val svc = new PipelineService(Seq(spec), conf)
    val port = svc.start()
    def obj(body: String): Map[String, PValue] = Json.parse(body) match {
      case PObj(m) => m
      case _ => fail(s"not a JSON object: $body")
    }
    def field(body: String, name: String): String = obj(body)(name).asString
    // details once the n-th run's ledger AND its status doc are written
    def awaitRuns(pid: String, n: Int): Map[String, PValue] = {
      def settled(d: Map[String, PValue]): Boolean = d.get("log_ids") match {
        case Some(PArr(ids)) => ids.size >= n && d.get("status").exists {
          case PObj(st) => st.get("log_id").contains(ids.last)
          case _ => false
        }
        case _ => false
      }
      val deadline = System.currentTimeMillis() + 20000
      var d = Map.empty[String, PValue]
      while (!settled(d) && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        d = obj(get(port, s"/pipelines/id-pipe/processings/$pid")._2)
      }
      assert(settled(d), s"run $n of $pid did not finish in time: $d")
      d
    }
    def completed(d: Map[String, PValue]): Boolean = d("status") match {
      case PObj(st) => st.get("is_completed").contains(PBool(true))
      case _ => false
    }
    try {
      for (action <- Seq("start", "resume")) {
        val (code, body) = post(port, s"/pipelines/id-pipe/$action",
          """{"pipeline":{"processing_id":"../../escape"},""" +
            """"block":{"slug":"wrap","input":{"text":"x"}}}""")
        assert(code == 400 && field(body, "error").contains("../../escape"),
          s"$action: $code $body")
      }
      Thread.sleep(200)
      val left = outer.toFile.list().toSeq
      assert(left.forall(_ == "root"), s"files written outside the root: $left")
      assert(get(port, "/pipelines/id-pipe/processings/..%2F..%2Fescape")._1 == 404)

      // a quote in the decoded slug must not break the error body
      val (nc, nb) = get(port, "/pipelines/a%22b")
      assert(nc == 404 && field(nb, "error").contains("a\"b"), nb)

      // a server-issued id still starts and resumes to completion
      val (sc, started) = post(port, "/pipelines/id-pipe/start",
        """{"block":{"slug":"","input":{"text":"ping"}}}""")
      assert(sc == 200, started)
      val pid = field(started, "processing_id")
      assert(completed(awaitRuns(pid, 1)))
      val (rc, resumed) = post(port, "/pipelines/id-pipe/resume",
        s"""{"pipeline":{"processing_id":"$pid"},""" +
          """"block":{"slug":"wrap","input":{"text":"again"}}}""")
      assert(rc == 200 && field(resumed, "processing_id") == pid, resumed)
      val details = awaitRuns(pid, 2)
      assert(completed(details), details)
      val out = conf.checkpoint.loadOutput("id-pipe", pid, "wrap").get
      assert(new String(out.head._2, "UTF-8") == "(again)")
    } finally svc.stop()
  }

  test("a malformed JSON start or resume gets 400 naming the problem") {
    val spec = PipelineSpec("bad-pipe", "t", "d", Seq(
      BlockSpec("wrap_text", "wrap", "wrap the posted input text",
        input = Map("prefix" -> PStr("("), "suffix" -> PStr(")")))))
    val root = java.nio.file.Files.createTempDirectory("graft-api-bad")
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val conf = Runner.RunConfig(spark, registry,
      new CheckpointStore(root.toString), Clients.mockCtx())
    val svc = new PipelineService(Seq(spec), conf)
    val port = svc.start()
    def error(body: String): String = Json.parse(body) match {
      case PObj(m) => m("error").asString
      case _ => fail(s"not a JSON object: $body")
    }
    def written(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(root)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      finally s.close()
    }
    val pid = java.util.UUID.randomUUID().toString
    val refused = Seq(
      "{" -> "JSON",
      """{"block":{"slug":"wrap","input":{"file_b64":"!!"}}}""" -> "file_b64",
      """{"block":{"slug":"wrap","input":{"text":"x"},"target_index":"2"}}""" ->
        "target_index",
      """{"block":{"slug":"wrap","input":{"text":"x"},"target_index":1.5}}""" ->
        "target_index")
    try {
      for (action <- Seq("start", "resume"); (body, names) <- refused) {
        val withPid =
          if (action == "resume" && body != "{")
            body.stripSuffix("}") + s""","pipeline":{"processing_id":"$pid"}}"""
          else body
        val (code, resp) = post(port, s"/pipelines/bad-pipe/$action", withPid)
        assert(code == 400 && error(resp).contains(names),
          s"$action $withPid: $code $resp")
      }
      Thread.sleep(200)
      assert(written().isEmpty, s"refused requests wrote: ${written()}")

      // absent and null target_index both mean "every row"
      for (body <- Seq(
          """{"block":{"slug":"","input":{"text":"ping"}}}""",
          """{"block":{"slug":"","input":{"text":"ping"},"target_index":null}}""")) {
        val (sc, started) = post(port, "/pipelines/bad-pipe/start", body)
        assert(sc == 200, started)
        val id = Json.parse(started) match {
          case PObj(m) => m("processing_id").asString
          case _ => fail(started)
        }
        val deadline = System.currentTimeMillis() + 20000
        var out = conf.checkpoint.loadOutput("bad-pipe", id, "wrap")
        while (out.isEmpty && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          out = conf.checkpoint.loadOutput("bad-pipe", id, "wrap")
        }
        assert(out.exists(o => new String(o.head._2, "UTF-8") == "(ping)"),
          s"$body did not complete")
      }
    } finally svc.stop()
  }

  private def postBytes(port: Int, path: String, body: Array[Byte],
      contentType: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", contentType)
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("multipart/form-data start: file fields, name[] arrays, cap, content-type gate") {
    val uploadSpec = PipelineSpec("mp-upload", "t", "d", Seq(
      BlockSpec("upload_file", "take", "accept the posted multipart file")))
    val joinSpec = PipelineSpec("mp-join", "t", "d", Seq(
      BlockSpec("join_strings", "join", "join the posted array field",
        input = Map("separator" -> PStr("|")))))
    val root = java.nio.file.Files.createTempDirectory("graft-api-mp").toString
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val conf = Runner.RunConfig(spark, registry,
      new CheckpointStore(root), Clients.mockCtx())
    val svc = new PipelineService(Seq(uploadSpec, joinSpec), conf)
    val port = svc.start()
    try {
      val boundary = "graftBoundary857492"
      def multipartBody(fields: Seq[(String, String)],
          files: Seq[(String, String, Array[Byte])]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        fields.foreach { case (name, value) =>
          out.write((s"--$boundary\r\nContent-Disposition: form-data; " +
            s"""name="$name"\r\n\r\n$value\r\n""").getBytes("UTF-8"))
        }
        files.foreach { case (name, filename, data) =>
          out.write((s"--$boundary\r\nContent-Disposition: form-data; " +
            s"""name="$name"; filename="$filename"\r\n""" +
            "Content-Type: application/octet-stream\r\n\r\n").getBytes("UTF-8"))
          out.write(data)
          out.write("\r\n".getBytes("UTF-8"))
        }
        out.write(s"--$boundary--\r\n".getBytes("UTF-8"))
        out.toByteArray
      }
      val ct = s"multipart/form-data; boundary=$boundary"

      // a real binary file field rides byte-exact through the form
      val png = Clients.MockLLMClient.pngBytes("multipart-upload")
      val (mc, mp) = postBytes(port, "/pipelines/mp-upload/start",
        multipartBody(
          Seq("pipeline.slug" -> "mp-upload", "block.slug" -> "take"),
          Seq(("block.input.file", "a.png", png))), ct)
      assert(mc == 200 && mp.contains("processing_id"), mp)
      val pid = mp.split("\"")(3)
      val deadline = System.currentTimeMillis() + 20000
      var out: Option[Seq[(Int, Array[Byte])]] = None
      while (out.isEmpty && System.currentTimeMillis() < deadline) {
        out = conf.checkpoint.loadOutput("mp-upload", pid, "take")
        if (out.isEmpty) Thread.sleep(50)
      }
      val got = out.get.head._2
      val firstDiff = got.zip(png).indexWhere(p => p._1 != p._2)
      assert(got.sameElements(png),
        s"file bytes must survive byte-exact: got ${got.length} vs ${png.length} " +
          s"bytes, first diff at $firstDiff, got head=${got.take(20).toSeq}, " +
          s"want head=${png.take(20).toSeq}")

      // name[] array fields collapse to one array input
      val (jc, jp) = postBytes(port, "/pipelines/mp-join/start",
        multipartBody(
          Seq("pipeline.slug" -> "mp-join", "block.slug" -> "join",
            "block.input.strings[]" -> "alpha", "block.input.strings[]" -> "beta"),
          Nil), ct)
      assert(jc == 200, jp)
      val jpid = jp.split("\"")(3)
      val deadline2 = System.currentTimeMillis() + 20000
      var joined: Option[Seq[(Int, Array[Byte])]] = None
      while (joined.isEmpty && System.currentTimeMillis() < deadline2) {
        joined = conf.checkpoint.loadOutput("mp-join", jpid, "join")
        if (joined.isEmpty) Thread.sleep(50)
      }
      assert(new String(joined.get.head._2, "UTF-8") == "alpha|beta")

      // required form fields, reference error texts
      val (bc1, b1) = postBytes(port, "/pipelines/mp-upload/start",
        multipartBody(Seq("block.slug" -> "take"), Nil), ct)
      assert(bc1 == 400 && b1.contains("pipeline.slug is missing"))
      val (bc2, b2) = postBytes(port, "/pipelines/mp-upload/start",
        multipartBody(Seq("pipeline.slug" -> "mp-upload"), Nil), ct)
      assert(bc2 == 400 && b2.contains("block.slug is missing"))

      // 10 MiB cap (handlers/pipelines.go:155)
      val big = multipartBody(
        Seq("pipeline.slug" -> "mp-upload", "block.slug" -> "take"),
        Seq(("block.input.file", "big.bin", new Array[Byte](10 * 1024 * 1024 + 1))))
      assert(postBytes(port, "/pipelines/mp-upload/start", big, ct)._1 == 400)

      // unsupported content types are rejected (handlers/pipelines.go:163)
      val (uc, ub) = postBytes(port, "/pipelines/mp-upload/start",
        "text".getBytes("UTF-8"), "text/plain")
      assert(uc == 400 && ub.contains("Unsupported Content-Type"))
    } finally svc.stop()
  }

  test("an oversized multipart body is refused before it all arrives; /health still answers") {
    val uploadSpec = PipelineSpec("mp-cap", "t", "d", Seq(
      BlockSpec("upload_file", "take", "accept the posted multipart file")))
    val conf = Runner.RunConfig(spark, registry,
      new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-api-cap").toString),
      Clients.mockCtx())
    val svc = new PipelineService(Seq(uploadSpec), conf)(
      scala.concurrent.ExecutionContext.global)
    val port = svc.start()
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(10000) // the status line must come within 10 s
      // declare 64 MiB, send 11 MiB and stop: only the cap check can answer
      val sender = new Thread(() =>
        try {
          val out = sock.getOutputStream
          out.write(("POST /pipelines/mp-cap/start HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
            "Content-Type: multipart/form-data; boundary=b\r\n" +
            "Content-Length: 67108864\r\n\r\n").getBytes("US-ASCII"))
          val chunk = new Array[Byte](1 << 20)
          (1 to 11).foreach(_ => out.write(chunk))
          out.flush()
        } catch { case _: java.io.IOException => () }) // the server may hang up first
      sender.setDaemon(true)
      sender.start()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "US-ASCII"))
      val status = in.readLine()
      assert(status != null && status.startsWith("HTTP/1.1 400 "), status)
      val length = Iterator.continually(in.readLine()).takeWhile(l => l != null && l.nonEmpty)
        .collectFirst { case l if l.toLowerCase.startsWith("content-length:") =>
          l.drop("content-length:".length).trim.toInt }
        .getOrElse(fail("no Content-Length"))
      val body = new String(Array.fill(length)(in.read().toChar))
      assert(body.contains("Unable to parse multipart form"), body)
    } finally sock.close()
    try assert(get(port, "/health")._1 == 200) finally svc.stop()
  }

  test("small replies are not held back: median GET /health round trip under 20 ms") {
    // a fresh JVM, so the service creates its first HTTP server
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    val proc = new ProcessBuilder(javaBin.toString, "-cp",
      System.getProperty("java.class.path"), "graft.pipeline.HealthRoundTrip")
      .redirectErrorStream(true).start()
    try {
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      assert(proc.waitFor() == 0, out)
      val medianMs = out.trim.linesIterator.toSeq.last.toDouble
      assert(medianMs < 20.0, s"median round trip $medianMs ms")
    } finally proc.destroyForcibly()
  }
}
