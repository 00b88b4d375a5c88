package graft.pipeline.blocks

import graft.pipeline._
import java.awt.image.BufferedImage
import java.awt.{Color, Font, RenderingHints}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Image operators (#6-8) over java.awt (headless, no external deps —
  * offline build). Pure per-row compute → Distributed: the Runner runs
  * fan-out rows concurrently in-process, and BulkRunner ships them
  * through mapPartitions, so a million-image fan-out runs as a normal
  * Spark stage.
  *
  * Pixel parity note: the reference resizes with Lanczos and blurs with
  * gg's gaussian (block_image_resize.go:52-89, block_image_blur.go:
  * 52-89); awt uses bicubic + ConvolveOp. Output STRUCTURE (format,
  * dimensions, alpha) matches; per-pixel values are library-specific,
  * exactly like the reference's own tests which assert structurally
  * (SURVEY §5 — dimension checks, non-empty, MIME).
  */
object ImageBlocks {

  private[blocks] def decode(bytes: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) throw new IllegalArgumentException("undecodable image")
    img
  }

  private[blocks] def encodePng(img: BufferedImage): Array[Byte] = {
    // The reference re-encodes RGBA PNG (block_image_add_text.go:160-175).
    val rgba = new BufferedImage(img.getWidth, img.getHeight,
      BufferedImage.TYPE_INT_ARGB)
    val g = rgba.createGraphics()
    g.drawImage(img, 0, 0, null)
    g.dispose()
    val out = new ByteArrayOutputStream()
    ImageIO.write(rgba, "png", out)
    out.toByteArray
  }

  /** HexToRGB (types/helpers/hex.go:8-19). */
  private[blocks] def hexColor(s: String, alpha: Double = 1.0): Color = {
    val c = Color.decode(if (s.startsWith("#")) s else "#" + s)
    new Color(c.getRed, c.getGreen, c.getBlue, (alpha * 255).round.toInt)
  }

  /** #7 image_resize (block_image_resize.go:52-89): resize to
    * width×height, PNG out. `keep_aspect_ratio` is declared in the
    * schema but unused by the reference's code — replicated. */
  object ImageResize extends BlockOp {
    override val id = "image_resize"
    override val description = "Resize an image to width x height"
    override val props = Seq(
      PropSpec("image", TFile, required = true),
      PropSpec("width", TInt, default = Some(PInt(100L))),
      PropSpec("height", TInt, default = Some(PInt(100L))),
      PropSpec("keep_aspect_ratio", TBool, default = Some(PBool(true))))

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
      val src = decode(row.bytes("image"))
      val w = row.props("width").asLong.toInt
      val h = row.props("height").asLong.toInt
      val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
      val g = dst.createGraphics()
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BICUBIC)
      g.drawImage(src, 0, 0, w, h, null)
      g.dispose()
      BlockResult.bytes(encodePng(dst))
    }
  }

  /** #8 image_blur (block_image_blur.go:52-89): gaussian blur with
    * `sigma`, PNG out. Separable two-pass convolution with edge clamp. */
  object ImageBlur extends BlockOp {
    override val id = "image_blur"
    override val description = "Gaussian blur an image"
    override val props = Seq(
      PropSpec("image", TFile, required = true),
      PropSpec("sigma", TNumber, default = Some(PNum(1.5))))

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
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
      // normalize source to ARGB first
      val argb = new BufferedImage(src.getWidth, src.getHeight,
        BufferedImage.TYPE_INT_ARGB)
      val g0 = argb.createGraphics(); g0.drawImage(src, 0, 0, null); g0.dispose()
      BlockResult.bytes(encodePng(pass(pass(argb, horizontal = true), horizontal = false)))
    }
  }

  /** #6 image_add_text (block_image_add_text.go:56-290): word-wrapped
    * text over a semi-transparent background bar at one of 9 anchor
    * positions. Fonts: the reference embeds Roboto TTFs; we use the
    * JVM's logical SansSerif (no bundled binaries) — the `font` input
    * is accepted and recorded but maps to the logical family. */
  object ImageAddText extends BlockOp {
    override val id = "image_add_text"
    override val description = "Draw wrapped text with a background onto an image"
    override val props = Seq(
      PropSpec("image", TFile, required = true),
      PropSpec("text", TString, required = true),
      PropSpec("font", TString, default = Some(PStr("Roboto-Regular.ttf"))),
      PropSpec("font_size", TNumber, default = Some(PNum(50))),
      PropSpec("font_color", TColor, default = Some(PStr("#000000"))),
      PropSpec("text_position", TString, default = Some(PStr("center-center")),
        enumVals = Seq("top-left", "top-center", "top-right",
          "center-left", "center-center", "center-right",
          "bottom-left", "bottom-center", "bottom-right")),
      PropSpec("text_bg_color", TColor, default = Some(PStr("#000000"))),
      PropSpec("text_bg_all_width", TBool, default = Some(PBool(true))),
      PropSpec("text_bg_alpha", TNumber, default = Some(PNum(0.5))),
      PropSpec("text_bg_margin", TInt, default = Some(PInt(10L))))

    /** Detector: font rendering must work in this JVM (headless without
      * fontconfig can fail); unavailable → the runner halts like the
      * reference would transfer (E15 dropped). */
    override def available(ctx: BlockCtx): Boolean =
      try {
        val img = new BufferedImage(4, 4, BufferedImage.TYPE_INT_ARGB)
        val g = img.createGraphics()
        g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, 10))
        g.drawString("x", 1, 3); g.dispose(); true
      } catch { case _: Throwable => false }

    override def process(row: InputRow, ctx: BlockCtx): BlockResult = {
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

      // Word wrap to image width minus margins (drawTextWithBackground
      // wraps at dc.Width()-2*margin, block_image_add_text.go:192-230).
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

      // Background bar (all-width or text-width per line).
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
      BlockResult.bytes(encodePng(img))
    }
  }

  val all: Seq[BlockOp] = Seq(ImageAddText, ImageResize, ImageBlur)
}
