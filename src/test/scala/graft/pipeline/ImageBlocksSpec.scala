package graft.pipeline

import graft.pipeline.blocks.ImageBlocks
import java.awt.image.BufferedImage
import java.awt.{Color, Font, RenderingHints}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** The straightforward implementation of the three image blocks: a
  * blur that reads and writes every tap through `getRGB`/`setRGB`, and
  * the `InputStream`/`OutputStream` ImageIO overloads. [[ImageBlocksSpec]]
  * holds the blocks to its bytes; no digest is committed, since zlib
  * output may differ between JDK builds. */
private object ReferenceImageCode {

  def decode(bytes: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) throw new IllegalArgumentException("undecodable image")
    img
  }

  def encodePng(img: BufferedImage): Array[Byte] = {
    val rgba = new BufferedImage(img.getWidth, img.getHeight,
      BufferedImage.TYPE_INT_ARGB)
    val g = rgba.createGraphics()
    g.drawImage(img, 0, 0, null)
    g.dispose()
    val out = new ByteArrayOutputStream()
    ImageIO.write(rgba, "png", out)
    out.toByteArray
  }

  def hexColor(s: String, alpha: Double = 1.0): Color = {
    val c = Color.decode(if (s.startsWith("#")) s else "#" + s)
    new Color(c.getRed, c.getGreen, c.getBlue, (alpha * 255).round.toInt)
  }

  def resize(row: InputRow): Array[Byte] = {
    val src = decode(row.bytes("image"))
    val w = row.props("width").asLong.toInt
    val h = row.props("height").asLong.toInt
    val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    val g = dst.createGraphics()
    g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
      RenderingHints.VALUE_INTERPOLATION_BICUBIC)
    g.drawImage(src, 0, 0, w, h, null)
    g.dispose()
    encodePng(dst)
  }

  def blur(row: InputRow): Array[Byte] = {
    val src = decode(row.bytes("image"))
    val sigma = math.max(row.props("sigma").asDouble, 0.01)
    val radius = math.max(1, math.ceil(3 * sigma).toInt)
    val kernel = Array.tabulate(2 * radius + 1) { i =>
      val x = i - radius
      math.exp(-(x * x) / (2 * sigma * sigma))
    }
    val ksum = kernel.sum
    val norm = kernel.map(_ / ksum)

    def pass(in: BufferedImage, horizontal: Boolean): BufferedImage = {
      val (w, h) = (in.getWidth, in.getHeight)
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var (a, r, g, b) = (0.0, 0.0, 0.0, 0.0)
          var k = -radius
          while (k <= radius) {
            val (sx, sy) =
              if (horizontal) (math.min(w - 1, math.max(0, x + k)), y)
              else (x, math.min(h - 1, math.max(0, y + k)))
            val px = in.getRGB(sx, sy)
            val wgt = norm(k + radius)
            a += wgt * ((px >>> 24) & 0xff); r += wgt * ((px >> 16) & 0xff)
            g += wgt * ((px >> 8) & 0xff); b += wgt * (px & 0xff)
            k += 1
          }
          out.setRGB(x, y,
            (a.round.toInt << 24) | (r.round.toInt << 16) |
              (g.round.toInt << 8) | b.round.toInt)
          x += 1
        }
        y += 1
      }
      out
    }
    val argb = new BufferedImage(src.getWidth, src.getHeight,
      BufferedImage.TYPE_INT_ARGB)
    val g0 = argb.createGraphics(); g0.drawImage(src, 0, 0, null); g0.dispose()
    encodePng(pass(pass(argb, horizontal = true), horizontal = false))
  }

  def addText(row: InputRow): Array[Byte] = {
    val src = decode(row.bytes("image"))
    val text = row.str("text").trim
    val fontSize = row.props("font_size").asDouble.toInt
    val margin = row.props("text_bg_margin").asLong.toInt
    val alpha = row.props("text_bg_alpha").asDouble
    val position = row.str("text_position")

    val img = new BufferedImage(src.getWidth, src.getHeight,
      BufferedImage.TYPE_INT_ARGB)
    val g = img.createGraphics()
    g.drawImage(src, 0, 0, null)
    g.setRenderingHint(RenderingHints.KEY_TEXT_ANTIALIASING,
      RenderingHints.VALUE_TEXT_ANTIALIAS_ON)
    g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, fontSize))
    val fm = g.getFontMetrics
    val lineHeight = (fm.getHeight * 1.2).toInt

    val maxWidth = math.max(1, img.getWidth - 2 * margin)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    var current = ""
    text.split(" ").foreach { w =>
      val cand = if (current.isEmpty) w else current + " " + w
      if (fm.stringWidth(cand) <= maxWidth || current.isEmpty) current = cand
      else { lines += current; current = w }
    }
    if (current.nonEmpty) lines += current

    val blockH = lines.size * lineHeight
    val yTop = position.split("-")(0) match {
      case "top"    => 0
      case "bottom" => img.getHeight - blockH - margin
      case _        => (img.getHeight - blockH) / 2
    }

    g.setColor(hexColor(row.str("text_bg_color"), alpha))
    val allWidth = row.props.get("text_bg_all_width").forall(_.asBool)
    if (allWidth)
      g.fillRect(0, yTop, img.getWidth, blockH + 2 * margin)
    else lines.zipWithIndex.foreach { case (ln, i) =>
      val lw = fm.stringWidth(ln)
      val x = position.split("-")(1) match {
        case "left"  => margin
        case "right" => img.getWidth - lw - margin
        case _       => (img.getWidth - lw) / 2
      }
      g.fillRect(x - margin / 2, yTop + i * lineHeight, lw + margin, lineHeight)
    }

    g.setColor(hexColor(row.str("font_color")))
    lines.zipWithIndex.foreach { case (ln, i) =>
      val lw = fm.stringWidth(ln)
      val x = position.split("-")(1) match {
        case "left"  => margin
        case "right" => img.getWidth - lw - margin
        case _       => (img.getWidth - lw) / 2
      }
      g.drawString(ln, x, yTop + margin + i * lineHeight + fm.getAscent)
    }
    g.dispose()
    encodePng(img)
  }
}

/** The image blocks' output bytes equal [[ReferenceImageCode]]'s for
  * every input kind the codec can meet, and an undecodable payload
  * fails a run with the same message. */
class ImageBlocksSpec extends AnyFunSuite {

  private val ctx = Clients.mockCtx()

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, out), s"no $format writer")
    out.toByteArray
  }

  private def filled(w: Int, h: Int, kind: Int, seed: Long)(
      pixel: java.util.Random => Int): BufferedImage = {
    val rng = new java.util.Random(seed)
    val img = new BufferedImage(w, h, kind)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(rng))
    img
  }

  private val opaque = (rng: java.util.Random) => rng.nextInt(1 << 24)

  /** An opaque 11×1 row whose red, green and blue values make the
    * sigma-1.5 horizontal tap sum at its centre land within an ulp of a
    * half: summed k = -r .. r, red and green round down (108, 109) and
    * blue up (112); summed in reverse each rounds the other way (found
    * by a meet-in-the-middle search over the kernel weights). Random pixels almost never come this close,
    * so without it a reordered tap sum passes every other case. */
  private def nearTieRow: BufferedImage = {
    val red = Seq(0, 8, 187, 235, 103, 82, 98, 97, 21, 2, 1)
    val green = Seq(0, 10, 189, 146, 109, 83, 94, 188, 21, 2, 3)
    val blue = Seq(2, 16, 129, 141, 160, 85, 47, 197, 85, 0, 5)
    val img = new BufferedImage(11, 1, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 11) img.setRGB(x, 0, (red(x) << 16) | (green(x) << 8) | blue(x))
    img
  }

  /** name → encoded upload */
  private lazy val inputs: Seq[(String, Array[Byte])] = Seq(
    "384² opaque RGB noise PNG" ->
      encode(filled(384, 384, BufferedImage.TYPE_INT_RGB, 384)(opaque), "png"),
    "random-alpha ARGB PNG" ->
      encode(filled(96, 64, BufferedImage.TYPE_INT_ARGB, 7)(_.nextInt()), "png"),
    "grayscale PNG" ->
      encode(filled(50, 40, BufferedImage.TYPE_BYTE_GRAY, 11)(opaque), "png"),
    "palette PNG" ->
      encode(filled(45, 30, BufferedImage.TYPE_BYTE_INDEXED, 13)(opaque), "png"),
    "JPEG" ->
      encode(filled(64, 48, BufferedImage.TYPE_INT_RGB, 17)(opaque), "jpg"),
    "1×1 translucent PNG" ->
      encode(filled(1, 1, BufferedImage.TYPE_INT_ARGB, 19)(_ => 0x80336699), "png"),
    "3×700 PNG" ->
      encode(filled(3, 700, BufferedImage.TYPE_INT_RGB, 23)(opaque), "png"),
    "11×1 near-tie row" -> encode(nearTieRow, "png"))

  private def prepared(op: BlockOp, props: (String, PValue)*): InputRow =
    op.prepare(props.toMap) match {
      case Right(p)  => InputRow(0, p)
      case Left(err) => fail(s"prepare failed: $err")
    }

  private def assertSameBytes(what: String, got: Array[Byte], want: Array[Byte]): Unit =
    assert(got.sameElements(want), s"$what: ${got.length} bytes, reference " +
      s"${want.length}, first difference at ${got.zip(want).indexWhere(p => p._1 != p._2)}")

  test("image_resize writes the reference implementation's PNG bytes") {
    for ((name, bytes) <- inputs; (w, h) <- Seq((512, 512), (17, 9))) {
      val row = prepared(ImageBlocks.ImageResize,
        "image" -> PBytes(bytes), "width" -> PInt(w), "height" -> PInt(h))
      assertSameBytes(s"$name to $w×$h",
        ImageBlocks.ImageResize.process(row, ctx).outputs.head,
        ReferenceImageCode.resize(row))
    }
  }

  test("image_blur writes the reference implementation's PNG bytes for every sigma") {
    // sigma 10 is radius 30: wider than the 3×700 image, so a tap is
    // clamped at both edges of one row
    for ((name, bytes) <- inputs; sigma <- Seq(-1.0, 0.01, 1.5, 10.0)) {
      val row = prepared(ImageBlocks.ImageBlur,
        "image" -> PBytes(bytes), "sigma" -> PNum(sigma))
      assertSameBytes(s"$name at sigma $sigma",
        ImageBlocks.ImageBlur.process(row, ctx).outputs.head,
        ReferenceImageCode.blur(row))
    }
  }

  test("image_add_text writes the reference implementation's PNG bytes at every anchor") {
    assume(ImageBlocks.ImageAddText.available(ctx), "font rendering unavailable in this JVM")
    val positions = for (v <- Seq("top", "center", "bottom");
      h <- Seq("left", "center", "right")) yield s"$v-$h"
    for ((name, bytes) <- inputs; position <- positions; allWidth <- Seq(true, false)) {
      val row = prepared(ImageBlocks.ImageAddText,
        "image" -> PBytes(bytes), "text" -> PStr("a caption that wraps onto lines"),
        "font_size" -> PNum(14), "font_color" -> PStr("#ffcc00"),
        "text_position" -> PStr(position), "text_bg_all_width" -> PBool(allWidth))
      assertSameBytes(s"$name at $position, all-width $allWidth",
        ImageBlocks.ImageAddText.process(row, ctx).outputs.head,
        ReferenceImageCode.addText(row))
    }
  }

  test("image_blur rejects a sigma that is not finite or past the bound, before decoding") {
    val spec = PipelineSpec("image-sigma", "t", "d", Seq(
      BlockSpec("image_blur", "blur", "blur the posted image")))
    val conf = Runner.RunConfig(null, BlockRegistry.standard(),
      new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-sigma").toString),
      ctx)
    // a multipart field arrives as text, so "Infinity" and "NaN" reach the block
    for (sigma <- Seq(PNum(1e9), PStr("Infinity"), PStr("NaN"))) {
      val run = Future(Runner.process(spec, Runner.StartInput(input = Map(
        "image" -> PBytes("hello".getBytes("UTF-8")), "sigma" -> sigma)), conf))(
        ExecutionContext.global)
      val report = Await.result(run, 60.seconds)
      assert(report.status == Runner.Failed(s"blur: sigma: must be finite and at most " +
        s"${ImageBlocks.ImageBlur.MaxSigma}, got ${sigma.asDouble}"), sigma)
    }
    assert(ImageBlocks.ImageBlur.prepare(Map("image" -> PBytes(Array[Byte](1)),
      "sigma" -> PNum(-1e9))).isRight, "a negative sigma still clamps")
  }

  test("an undecodable payload fails the run with the reference implementation's message") {
    val spec = PipelineSpec("image-errors", "t", "d", Seq(
      BlockSpec("image_blur", "blur", "blur the posted image")))
    val conf = Runner.RunConfig(null, BlockRegistry.standard(),
      new CheckpointStore(java.nio.file.Files.createTempDirectory("graft-image").toString),
      ctx)
    val truncated = inputs.head._2.take(100)
    for ((name, bytes) <- Seq("text" -> "hello".getBytes("UTF-8"),
        "PNG truncated to 100 bytes" -> truncated, "empty payload" -> Array.emptyByteArray)) {
      val want = scala.util.Try(ReferenceImageCode.decode(bytes)) match {
        case scala.util.Failure(e) => e.getMessage
        case _                     => fail(s"$name decoded")
      }
      val run = Future(Runner.process(spec,
        Runner.StartInput(input = Map("image" -> PBytes(bytes))), conf))(ExecutionContext.global)
      val report = Await.result(run, 60.seconds)
      assert(report.status == Runner.Failed(s"blur[0]: $want"), name)
    }
  }
}
