package graft.perfbench

import graft.pipeline.{Json, PArr, PBool, PNull, PObj, PStr, PValue}
import scala.util.hashing.MurmurHash3

/** Output checks, kept free of Spark and HTTP so the benchmark's own
  * tests can show each one catching a fault. */
object Checks {

  /** Order-insensitive fingerprint of a row set: the row count and the
    * wrapping sum of a 64-bit hash per row. Every column enters the
    * hash, so a perturbed value anywhere changes it. */
  final case class Fingerprint(rows: Long, hash: Long)

  def fingerprint(rows: Iterable[Seq[Any]]): Fingerprint = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val cells = r.map(normalize)
      val hi = MurmurHash3.seqHash(cells).toLong
      val lo = MurmurHash3.orderedHash(cells, 0x5bd1e995).toLong
      h += (hi << 32) ^ (lo & 0xffffffffL)
      n += 1
    }
    Fingerprint(n, h)
  }

  /** Spark hands back boxed numerics and byte arrays; compare by value. */
  private def normalize(v: Any): Any = v match {
    case b: Array[Byte]     => b.toSeq
    case i: java.lang.Integer => i.longValue
    case i: Int             => i.toLong
    case d: Double          => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    case other              => other
  }

  // ------------------------------------------------------- service

  /** The mock model used by the text pipeline. `plan:` prompts answer
    * with eight topics as JSON; any other prompt is expanded into one
    * sentence that carries the marker the pipeline rewrites. */
  object Responder {
    val topicsPerPlan = 8
    val marker = "MARK"

    def topics(prompt: String): Seq[String] = {
      val h = MurmurHash3.stringHash(prompt)
      (0 until topicsPerPlan).map(i => f"topic-$i-${(h ^ (i * 0x9e3779b9)) & 0xffffff}%06x")
    }

    def sentence(topic: String): String =
      s"about $topic: one $marker per ${topic.reverse}"

    def respond(system: String, user: String): String =
      if (user.startsWith("plan:"))
        Json.render(PObj(Map("topics" -> PArr(topics(user).map(PStr(_))))))
      else sentence(user)

    /** The final output of the text pipeline for `prompt`, derived
      * from the request and the responses above, not from the program. */
    def expectedText(prompt: String): String =
      "report: " + topics(prompt)
        .map(t => "[" + sentence(t).replace(marker, "<mark>") + "]")
        .mkString(" | ")
  }

  /** Width and height of a PNG, or None if the bytes are not one. */
  def pngSize(bytes: Array[Byte]): Option[(Int, Int)] =
    if (bytes.length < 8 || (bytes(0) & 0xff) != 0x89 || bytes(1) != 'P' ||
        bytes(2) != 'N' || bytes(3) != 'G') None
    else Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      .map(img => (img.getWidth, img.getHeight))

  /** A status document this request produced: the processing route
    * serves the latest status, and a resume reuses a processing id
    * whose earlier status already reads completed. Only a status whose
    * `log_id` was not there before the request was sent is its own. */
  def ownStatus(doc: PValue, logIdsBefore: Set[String]): Option[PObj] =
    field(doc, "status") match {
      case s: PObj =>
        field(s, "log_id") match {
          case PStr(id) if !logIdsBefore.contains(id) => Some(s)
          case _ => None
        }
      case _ => None
    }

  def isCompleted(status: PObj): Boolean = field(status, "is_completed") == PBool(true)

  /** Blocks that ran, in ledger order, from a processing document. */
  def ledgerBlocks(doc: PValue): Seq[String] = field(doc, "ledger") match {
    case PArr(es) => es.map(e => field(e, "block").asString).distinct
    case _        => Nil
  }

  def logIds(doc: PValue): Set[String] = field(doc, "log_ids") match {
    case PArr(ids) => ids.map(_.asString).toSet
    case _         => Set.empty
  }

  def field(v: PValue, k: String): PValue = v match {
    case PObj(m) => m.getOrElse(k, PNull)
    case _       => PNull
  }
}
